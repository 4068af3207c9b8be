"""Registered operator queries + DuckDB oracle twins (driver contract).

Each entry exercises one SURVEY.md §2 operator mapping over the driver's
testdata tables and has an ANSI-SQL twin the driver runs through DuckDB at
sf0.01 (row-count + schema + order-insensitive value hash). Column names
are aliased identically on both sides; doubles are rounded at the edge to
keep the value hash stable across engines.

Structure: ``QUERIES[name] = (spark_fn, oracle_sql_or_None)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beholder_spark.operators import aggregate as agg
from beholder_spark.operators import enrich, fields, parse, route, skew
from beholder_spark.sources import union_sources

Entry = tuple[Callable[[SparkSession, str], DataFrame], str | None]
QUERIES: dict[str, Entry] = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship: scan → project → time-bucket → hash agg (A2/A3)
# ---------------------------------------------------------------------------


@_register(
    "flagship_stats_by_type_hour",
    """
    SELECT event_type,
           date_trunc('hour', ts) AS bucket,
           count(*) AS n
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def flagship_stats_by_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beholder-stats analogue: messages per type per hour (SURVEY §2.7 A2+A3)."""
    return agg.stats_counts(_t(spark, sf_dir, "events"), ["event_type"], ts_col="ts")


# ---------------------------------------------------------------------------
# P3: parse json (events.props)
# ---------------------------------------------------------------------------


@_register(
    "parse_json_props",
    """
    SELECT (props->>'$.k')::BIGINT % 10 AS k_mod, count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def parse_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: from_json with declared schema + corrupt-record parse_ok."""
    df = parse.parse_json(
        _t(spark, sf_dir, "events"), "props", T.StructType([T.StructField("k", T.LongType())])
    )
    return df.groupBy((F.col("k") % 10).alias("k_mod")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# P2: parse regexp — named-group extraction, JVM-side
# ---------------------------------------------------------------------------


@_register(
    "parse_regexp_first_word",
    r"""
    SELECT regexp_extract(text, '^(\w+) (\w+)', 1) AS w1, count(*) AS n
    FROM documents
    GROUP BY 1
    """,
)
def parse_regexp_first_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: regexp_extract stays in whole-stage codegen (no Python)."""
    df = parse.parse_regexp(
        _t(spark, sf_dir, "documents"), "text", r"^(\w+) (\w+)", {"w1": 1, "w2": 2}
    )
    return (
        df.withColumn("w1", F.coalesce("w1", F.lit("")))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# P1 + F9: syslog serialize → parse roundtrip (pandas UDF hot path)
# ---------------------------------------------------------------------------


@_register(
    "parse_syslog_roundtrip",
    """
    SELECT CAST(event_id % 24 AS VARCHAR) AS facility,
           CAST(event_id % 8 AS VARCHAR) AS severity,
           'node' || CAST(user_id AS VARCHAR) AS host,
           event_type AS program,
           CAST(event_id AS VARCHAR) AS pid,
           props AS payload,
           event_id
    FROM events
    """,
)
def parse_syslog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F9: serialize events to RFC3164 wire lines (set_syslog), parse
    them back with the Arrow pandas-UDF syslog parser; fields must
    roundtrip exactly. The oracle computes the expected fields directly."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 24).cast("string").alias("fac"),
        (F.col("event_id") % 8).cast("string").alias("sev"),
        F.concat(F.lit("node"), F.col("user_id").cast("string")).alias("h"),
        F.col("event_type").alias("prog"),
        F.col("event_id").cast("string").alias("p"),
        F.col("ts"),
        F.col("props").alias("msg"),
    )
    wire = fields.set_syslog(ev, "raw", "fac", "sev", "ts", "h", "prog", "p", "msg")
    parsed = parse.parse_syslog(wire.select("event_id", "raw"), "raw", keep_unparsed=False)
    return parsed.select(
        "facility", "severity", "host", "program", "pid", F.col("payload"), "event_id"
    )


# ---------------------------------------------------------------------------
# F7: severity number → name
# ---------------------------------------------------------------------------


@_register(
    "severity_names",
    """
    SELECT CASE event_id % 8
             WHEN 0 THEN 'emerg' WHEN 1 THEN 'alert' WHEN 2 THEN 'crit'
             WHEN 3 THEN 'error' WHEN 4 THEN 'warning' WHEN 5 THEN 'notice'
             WHEN 6 THEN 'info' ELSE 'debug' END AS sev_name,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def severity_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").withColumn("sev", (F.col("event_id") % 8).cast("string"))
    df = fields.set_severity_name(df, "sev_name", "sev")
    return df.groupBy("sev_name").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# R1/R3: switch/case first-match-wins routing
# ---------------------------------------------------------------------------


@_register(
    "route_switch_lang",
    """
    SELECT CASE
             WHEN regexp_matches(text, 'spark (table|query)') THEN 'sparky'
             WHEN lang = 'en' THEN 'english'
             WHEN lang IN ('de', 'fr', 'es') THEN 'euro'
             ELSE '_unmatched' END AS route,
           count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def route_switch_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: ordered when() chain == Beholder first-match-wins case order;
    R3: explicit _unmatched quarantine route, never silent drop."""
    df = route.switch(
        _t(spark, sf_dir, "documents"),
        [
            (F.col("text").rlike("spark (table|query)"), "sparky"),
            (F.col("lang") == "en", "english"),
            (F.col("lang").isin("de", "fr", "es"), "euro"),
        ],
    )
    return df.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "route_case_capture",
    r"""
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 'english' ELSE '_unmatched' END AS route,
           CASE WHEN lang = 'en' THEN regexp_extract(text, '^(\w+) (\w+)', 2)
                ELSE NULL END AS second_word
    FROM documents
    """,
)
def route_case_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: capture groups extracted only inside the matched case."""
    df = route.switch(_t(spark, sf_dir, "documents"), [(F.col("lang") == "en", "english")])
    df = route.case_capture(df, "text", r"^(\w+) (\w+)", {"second_word": 2}, route_value="english")
    return df.select("doc_id", "route", "second_word")


@_register(
    "config_switch_routed_counts",
    """
    SELECT CASE WHEN regexp_matches(lang, '^en$') THEN 'case_1'
                WHEN regexp_matches(lang, '^(de|fr|es)$') THEN 'case_2'
                ELSE 'default' END AS route,
           CASE WHEN regexp_matches(lang, '^en$') THEN 'major/' || lang
                WHEN regexp_matches(lang, '^(de|fr|es)$') THEN 'major/' || lang
                ELSE 'minor/' || lang END AS sink,
           count(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def config_switch_routed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 config front end, oracle-checked end-to-end: Beholder config
    TEXT → tokenizer → parser → compiled switch/set stages → per-route
    counts. First-match-wins case order and per-case guarded set."""
    from beholder_spark.config import compile_config

    cfg = """
    switch '{$lang}' {
      case ~^en$~ { set $sink 'major/{$lang}'; }
      case ~^(de|fr|es)$~ { set $sink 'major/{$lang}'; }
      default { set $sink 'minor/{$lang}'; }
    }
    """
    out = compile_config(cfg)(_t(spark, sf_dir, "documents"))
    return out.groupBy("route", "sink").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "config_textlines_severity_names",
    """
    SELECT CASE pri % 8 WHEN 0 THEN 'emerg' WHEN 1 THEN 'alert' WHEN 2 THEN 'crit'
                        WHEN 3 THEN 'error' WHEN 4 THEN 'warning' WHEN 5 THEN 'notice'
                        WHEN 6 THEN 'info' ELSE 'debug' END AS sev_name,
           count(*) AS n
    FROM (
      SELECT e.event_id % 100 AS pri FROM events e
    )
    WHERE pri <= 191
    GROUP BY 1
    """,
)
def config_textlines_severity_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 config front end, SELF-SOURCING: the config names its own
    `from text '<path>'` scan, parses syslog, and maps severity to its
    RFC keyword — three config commands (from text / parse syslog /
    set severity-name) driving the whole job from text alone."""
    import hashlib
    import os

    from beholder_spark.config import compile_config

    st = os.stat(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    path = f"/tmp/beholder_textlines_{tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        lines = _t(spark, sf_dir, "events").select(
            F.concat(
                F.lit("<"),
                (F.col("event_id") % 100).cast("string"),
                F.lit(">1 2026-01-01T00:00:00Z h prog - - - hello"),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(path)

    cfg = f"""
    from text '{path}';
    parse syslog;
    set $sev_name severity-name $severity;
    keep $sev_name;
    """
    out = compile_config(cfg)(None, spark=spark)
    return out.groupBy("sev_name").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "grouping_sets_lang_source",
    """
    SELECT lang, source, count(*) AS n
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), (lang, source))
    """,
)
def grouping_sets_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 GROUPING SETS (rollup/cube's general form) via Spark SQL — one
    pass, expand + hash aggregate."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents_gs")
    return spark.sql(
        """
        SELECT lang, source, count(*) AS n
        FROM documents_gs
        GROUP BY GROUPING SETS ((lang), (source), (lang, source))
        """
    )


# ---------------------------------------------------------------------------
# F1/F2/F8/F11/F12: set-family + keep/drop
# ---------------------------------------------------------------------------


@_register(
    "set_template_json",
    """
    SELECT c_custkey,
           printf('%s [%s]', c_name, c_mktsegment) AS greeting,
           '{"c_custkey":' || CAST(c_custkey AS VARCHAR) || ',"c_nationkey":'
               || CAST(c_nationkey AS VARCHAR) || '}' AS js
    FROM customer
    """,
)
def set_template_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 template interpolation + F8 to_json serialization."""
    df = _t(spark, sf_dir, "customer")
    df = fields.set_template(df, "greeting", "%s [%s]", "c_name", "c_mktsegment")
    df = fields.set_json(df, "js", "c_custkey", "c_nationkey")
    return df.select("c_custkey", "greeting", "js")


@_register(
    "set_replace_keep_drop",
    r"""
    SELECT doc_id, lang,
           substr(regexp_replace(text, '[aeiou]', '*', 'g'), 1, 30) AS masked
    FROM documents
    WHERE n_chars > 200
    """,
)
def set_replace_keep_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 regex substitution + F11 keep-projection + F12 drop-filter."""
    df = _t(spark, sf_dir, "documents")
    df = fields.drop_when(df, F.col("n_chars") <= 200)
    df = fields.set_replace(df, "masked", "[aeiou]", "*", src="text")
    df = df.withColumn("masked", F.substring("masked", 1, 30))
    return fields.keep(df, "doc_id", "lang", "masked")


# ---------------------------------------------------------------------------
# A1: broadcast lookup enrichment
# ---------------------------------------------------------------------------


@_register(
    "enrich_broadcast_geo",
    """
    SELECT r.r_name AS region, count(*) AS n,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def enrich_broadcast_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: two chained broadcast hash-joins — the fact side never shuffles
    for the join; only the final aggregate exchanges (key→partial) rows."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = enrich.enrich_lookup(
        enrich.enrich_lookup(c, n, on=c.c_nationkey == n.n_nationkey, how="inner"),
        r,
        on=n.n_regionkey == r.r_regionkey,
        how="inner",
    )
    return joined.groupBy(F.col("r_name").alias("region")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("total_bal")
    )


@_register(
    "enrich_left_missing",
    """
    SELECT d.source, m.grp, count(*) AS n
    FROM documents d
    LEFT JOIN (VALUES ('src0', 'alpha'), ('src1', 'beta'), ('src2', 'alpha')) AS m(source, grp)
      ON d.source = m.source
    GROUP BY d.source, m.grp
    """,
)
def enrich_left_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 left-join NULL semantics: missing lookup rows keep the message
    with NULL enrichment (Beholder dynamic-field model)."""
    d = _t(spark, sf_dir, "documents")
    dim = spark.createDataFrame(
        [("src0", "alpha"), ("src1", "beta"), ("src2", "alpha")], ["source", "grp"]
    )
    return enrich.enrich_lookup(d, dim, on="source").groupBy("source", "grp").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# A8: semi/anti joins (resume filter)
# ---------------------------------------------------------------------------


@_register(
    "anti_orders_without_lineitems",
    """
    SELECT o.o_orderstatus, count(*) AS n
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o.o_orderstatus
    """,
)
def anti_orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 anti-join: the resume filter shape (skip completed partitions)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        enrich.filter_processed(o, li, on="o_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "semi_orders_with_lineitems",
    """
    SELECT count(*) AS n
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def semi_orders_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return enrich.filter_known(o, li, on="o_orderkey").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# S6/C3: union of sources
# ---------------------------------------------------------------------------


@_register(
    "union_sources_counts",
    """
    SELECT kind, count(*) AS n, count(DISTINCT id) AS n_ids
    FROM (
      SELECT 'events' AS kind, event_id AS id FROM events
      UNION ALL
      SELECT 'documents' AS kind, doc_id AS id FROM documents
    ) GROUP BY kind
    """,
)
def union_sources_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: multiple `from` sources = unionByName (narrow, shuffle-free)."""
    ev = _t(spark, sf_dir, "events").select(
        F.lit("events").alias("kind"), F.col("event_id").alias("id")
    )
    dc = _t(spark, sf_dir, "documents").select(
        F.lit("documents").alias("kind"), F.col("doc_id").alias("id")
    )
    return (
        union_sources(ev, dc)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("id").alias("n_ids"))
    )


# ---------------------------------------------------------------------------
# A3/A4/A5: time buckets, distinct counts, top-k
# ---------------------------------------------------------------------------


@_register(
    "time_bucket_day",
    """
    SELECT date_trunc('day', ts) AS bucket, count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def time_bucket_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: day bucket + exact distinct per bucket."""
    df = agg.time_bucket(_t(spark, sf_dir, "events"), "ts", "day")
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users")
    )


@_register(
    "distinct_users_by_type",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.distinct_count(_t(spark, sf_dir, "events"), ["event_type"], "user_id")


@_register(
    "topk_event_types",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type ASC LIMIT 3
    """,
)
def topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 global top-k: agg first, sort only the (tiny) aggregate."""
    return agg.top_k_global(_t(spark, sf_dir, "events"), "event_type", 3)


@_register(
    "topk_source_per_lang",
    """
    SELECT lang, source, n, rank FROM (
      SELECT lang, source, count(*) AS n,
             row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, source ASC) AS rank
      FROM documents GROUP BY lang, source
    ) WHERE rank <= 2
    """,
)
def topk_source_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 per-group top-k: window over pre-aggregated slice, no global sort."""
    return agg.top_k_per_group(_t(spark, sf_dir, "documents"), "lang", "source", 2)


# ---------------------------------------------------------------------------
# A6: deterministic dedup
# ---------------------------------------------------------------------------


@_register(
    "dedup_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: keep-latest-per-key with pinned total order (CC re-crawl rule)."""
    df = agg.dedup_latest(_t(spark, sf_dir, "events"), "user_id", "ts", tiebreak="event_id")
    return df.select("user_id", "event_id", "event_type")


@_register(
    "dedup_exact_texts",
    """
    SELECT min(doc_id) AS first_doc, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: hash-groupBy on the text key (scale path:
    group on xxhash64(text) so the shuffle carries 8 bytes, not the doc)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n_copies"))
        .select("first_doc", "n_copies")
    )


# ---------------------------------------------------------------------------
# A9: rollup / cube
# ---------------------------------------------------------------------------


@_register(
    "rollup_lang_source",
    """
    SELECT lang, source, count(*) AS n
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: hierarchical subtotals in one pass (expand + hash agg)."""
    return agg.rollup_counts(_t(spark, sf_dir, "documents"), "lang", "source")


# ---------------------------------------------------------------------------
# Window: running totals
# ---------------------------------------------------------------------------


@_register(
    "running_total_per_user",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
    FROM events
    """,
)
def running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed cumulative volume per user (ops view)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _t(spark, sf_dir, "events").select(
        "event_id", F.round(F.sum("value").over(w), 2).alias("running")
    )


@_register(
    "sessionize_user_events",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END AS newsess
      FROM ordered
    ),
    ids AS (
      SELECT user_id, ts,
             CAST(sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM ids GROUP BY user_id, session_id
    """,
)
def sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag + cumulative sum — pure
    JVM window functions, one shuffle on user_id."""
    return agg.sessionize(
        _t(spark, sf_dir, "events"), "user_id", "ts", gap_seconds=1800, tiebreak="event_id"
    ).select("user_id", "session_id", "session_start", "session_end", "n_events")


# ---------------------------------------------------------------------------
# A10: salted aggregation (result == plain groupBy — the oracle proves it)
# ---------------------------------------------------------------------------


@_register(
    "salted_count_by_type",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def salted_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: two-phase salted count — identical result to groupBy().count(),
    but a hot key's final reduce reads ≤32 partial rows instead of all."""
    return skew.salted_count(_t(spark, sf_dir, "events"), ["event_type"], salt_from="event_id")


@_register(
    "textlines_syslog_severity_counts",
    """
    SELECT CAST(pri % 8 AS VARCHAR) AS severity, count(*) AS n
    FROM (
      SELECT CAST(regexp_extract('<' || CAST((e.event_id % 100) AS VARCHAR) || '>1 2026-01-01T00:00:00Z h prog - - - hello',
                                 '^<(\\d+)>', 1) AS BIGINT) AS pri
      FROM events e
    )
    WHERE pri <= 191
    GROUP BY 1
    """,
)
def textlines_syslog_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 newline-framed text source end-to-end: write syslog-shaped lines
    to a text file, scan with from_text_lines, parse syslog (Arrow UDF),
    count by severity — the whole text-ingest path under the oracle."""
    import hashlib
    import os

    from beholder_spark import sources

    # deterministic line file derived from events (cached per sf)
    st = os.stat(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    path = f"/tmp/beholder_textlines_{tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        lines = _t(spark, sf_dir, "events").select(
            F.concat(
                F.lit("<"),
                (F.col("event_id") % 100).cast("string"),
                F.lit(">1 2026-01-01T00:00:00Z h prog - - - hello"),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(path)

    df = sources.from_text_lines(spark, path, source_tag="tcp://0.0.0.0:5140")
    parsed = parse.parse_syslog(df, col="payload", keep_unparsed=False)
    return parsed.groupBy("severity").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "percentiles_value_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
)
def percentiles_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per key (ops-view latency/value distributions):
    Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition, so results match to 4 dp. At 100 TB swap
    for `approx_percentile` (t-digest, one pass, fixed memory)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        )
    )


@_register(
    "argmax_value_by_user",
    """
    SELECT user_id,
           arg_max(value, event_id) AS last_value,
           round(stddev_samp(value), 4) AS sd
    FROM events GROUP BY user_id HAVING count(*) > 1
    """,
)
def argmax_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg_max (value at the max of a unique ordering key — the
    one-pass alternative to dedup_latest when only one column is needed)
    plus sample stddev; deterministic because event_id is unique."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max_by("value", "event_id").alias("last_value"),
            F.round(F.stddev_samp("value"), 4).alias("sd"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") > 1)
        .drop("_n")
    )


@_register(
    "salted_join_order_priority",
    """
    SELECT o_orderpriority, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 join side: explicit salted shuffle join (big side salted from
    l_linenumber, small side replicated ×8) — the oracle's PLAIN join
    proves result equality; the salt bounds any hot orderkey's reducer."""
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "okey")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "okey")
    joined = skew.salted_join(li, orders, on="okey", salt_from="l_linenumber", buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# P5: each-field-as-message
# ---------------------------------------------------------------------------


@_register(
    "each_field_as_message_counts",
    """
    SELECT key, count(*) AS n, count(DISTINCT value) AS n_values
    FROM (
      SELECT 'event_type' AS key, event_type AS value FROM events
      UNION ALL
      SELECT 'user_id' AS key, CAST(user_id AS VARCHAR) AS value FROM events
    ) GROUP BY key
    """,
)
def each_field_as_message_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: explode message fields into (key,value) messages (generator,
    no shuffle until the final count)."""
    kv = parse.each_field_as_message(
        _t(spark, sf_dir, "events"), ["event_type", "user_id"], id_cols=["event_id"]
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("value").alias("n_values")
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped general aggregation/join proof
# ---------------------------------------------------------------------------


@_register(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "top_orders_by_revenue",
    """
    SELECT o.o_orderkey, c.c_mktsegment,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, c.c_mktsegment
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = c.join(o, c.c_custkey == o.o_custkey).join(li, li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("o_orderkey", "c_mktsegment")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Training-data ops: text analysis (SURVEY.md §2.8 extension surface)
# ---------------------------------------------------------------------------

from beholder_spark.operators import dedup as dd  # noqa: E402
from beholder_spark.operators import similarity, textstats  # noqa: E402

_STOP = ", ".join(f"'{w}'" for w in textstats.LANG_MARKERS["en"])


_PRETOK_SQL = textstats.PRETOK_REGEX.replace("'", "''")


@_register(
    "textstats_tokens",
    rf"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '{textstats.TOKEN_REGEX}')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '{_PRETOK_SQL}')) AS n_pretok_tokens,
           length(text) AS n_chars_text
    FROM documents
    """,
)
def textstats_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex + the spec-pinned
    GPT-2-style pre-tokenizer (Java∩RE2 pattern shared verbatim with the
    oracle, SQL-quoting aside) — all codegen'd, zero Python."""
    df = textstats.with_token_stats(_t(spark, sf_dir, "documents"))
    return df.select("doc_id", "n_tokens", "n_bpe_tokens", "n_pretok_tokens", "n_chars_text")


@_register("textstats_bpe_tokens", None)
def textstats_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT BPE token counts over the pinned merge table
    (textstats.BPE_MERGES — the real Sennrich/GPT-2 iterative merge
    procedure, swap in a production vocabulary by replacing the table).
    Rows-only by design: the merge loop is iterative-until-fixpoint,
    not SQL-expressible; exactness is pinned by hand-computed goldens in
    test_pipeline_e2e instead."""
    df = textstats.with_bpe_tokens(_t(spark, sf_dir, "documents"))
    return df.select("doc_id", "n_bpe_exact")


@_register(
    "textstats_quality",
    f"""
    WITH q AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             round(len(list_filter(string_split(text, ' '), w -> w IN ({_STOP})))
                   / len(string_split(text, ' ')), 4) AS stop_ratio,
             round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 4) AS mean_tok_len
      FROM documents
    )
    SELECT doc_id, n_tokens, stop_ratio, mean_tok_len,
           CASE WHEN n_tokens < 30 THEN 'short'
                WHEN stop_ratio > 0.15 THEN 'fluent'
                ELSE 'listy' END AS quality_bucket
    FROM q
    """,
)
def textstats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio / mean token length / bucket."""
    df = textstats.with_quality(_t(spark, sf_dir, "documents"))
    return df.select("doc_id", "n_tokens", "stop_ratio", "mean_tok_len", "quality_bucket")


def _langid_sql() -> str:
    score_cols = ",\n             ".join(
        "len(list_filter(toks, w -> w IN ({}))) AS s_{}".format(
            ", ".join(f"'{w}'" for w in ws), la
        )
        for la, ws in textstats.LANG_MARKERS.items()
    )
    langs = list(textstats.LANG_MARKERS)
    total = " + ".join(f"s_{la}" for la in langs)
    cases = []
    for la in langs:
        conds = " AND ".join(f"s_{la} >= s_{o}" for o in langs if o != la)
        cases.append(f"WHEN {conds} THEN '{la}'")
    case_sql = "\n               ".join(cases)
    return f"""
    WITH s AS (
      SELECT lang, {score_cols}
      FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT lang, CASE WHEN {total} = 0 THEN 'other'
               {case_sql}
               END AS detected,
           count(*) AS n
    FROM s GROUP BY lang, detected
    """


@_register("lang_id_confusion", _langid_sql())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic → confusion counts vs true lang."""
    df = textstats.with_lang_id(_t(spark, sf_dir, "documents"))
    return df.groupBy("lang", "detected").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "fingerprint_dups",
    r"""
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           count(*) AS n, min(doc_id) AS first_doc
    FROM documents GROUP BY 1
    """,
)
def fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text as the dedup key."""
    df = textstats.with_fingerprint(_t(spark, sf_dir, "documents"))
    return df.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc")
    )


# ---------------------------------------------------------------------------
# Near-dup sketches: MinHash+LSH, SimHash, n-gram Jaccard
# (near-dups injected in-query — doc_id<50 re-texted — so results are
#  non-empty and BOTH engines construct identical corpora)
# ---------------------------------------------------------------------------

_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' extra token here' AS text
      FROM documents WHERE doc_id < 50
"""


@_register(
    "winnow_fingerprints",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))) AS grams
      FROM t
    ),
    m AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(grams) - 3, 0) + 1),
                                          j -> list_min(list_slice(grams, j, j + 3)))) AS fps
      FROM g
    )
    SELECT doc_id, CAST(len(fps) AS INT) AS n_fp, list_min(fps) AS min_fp
    FROM m WHERE len(fps) > 0
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (k=3 grams, window=4): the
    oracle recomputes every window minimum — bit-exact evidence for the
    whole gram→window→min chain."""
    d = textstats.with_winnow_fingerprints(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()), "text", k=3, window=4
    )
    return d.filter(F.size("winnow") > 0).select(
        "doc_id",
        F.size("winnow").alias("n_fp"),
        F.array_min("winnow").alias("min_fp"),
    )


@_register(
    "stream_windowed_counts_events",
    """
    SELECT event_type,
           date_trunc('hour', ts) AS bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_windowed_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with an EXACT oracle: availableNow over the
    events table → watermarked tumbling-window counts → memory sink; with
    all data on time in one batch, complete-mode output equals the batch
    GROUP BY — the streaming/batch equivalence contract, oracle-checked.
    """
    import hashlib
    import os
    import shutil
    import uuid

    from beholder_spark.streaming import windowed_counts

    # streaming file sources need a DIRECTORY; stage the single-file
    # table into a cached dir keyed by path + mtime + size, so a
    # regenerated fixture invalidates the stage instead of silently
    # serving stale rows
    st = os.stat(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    src_dir = f"/tmp/beholder_stream_src_{tag}"
    if not os.path.exists(os.path.join(src_dir, "events.parquet")):
        os.makedirs(src_dir, exist_ok=True)
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))

    schema = _t(spark, sf_dir, "events").schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    agg_df = windowed_counts(stream, ["event_type"], ts_col="ts", window="1 hour", watermark="2 hours")
    name = f"stream_wc_{uuid.uuid4().hex[:8]}"
    q = (
        agg_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_type", F.col("bucket").cast("timestamp_ntz").alias("bucket"), "n"
    )


@_register(
    "sort_merge_join_revenue",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sort_merge_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q5-shaped multi-join with the fact-fact join FORCED to
    sort-merge (MERGE hint): at 100 TB orders⋈lineitem exceeds any
    broadcast threshold, so this pins and tests the shuffle-join path
    explicitly; the dimension joins stay broadcast."""
    li = _t(spark, sf_dir, "lineitem").hint("merge")
    orders = _t(spark, sf_dir, "orders").hint("merge")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@_register(
    "sample_hash_documents",
    """
    SELECT lang, count(*) AS n
    FROM documents
    WHERE substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__NULL__')), 1, 8) < '19999999'
    GROUP BY lang
    """,
)
def sample_hash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash sample (md5-keyed, never rand()): same
    rows on every run/engine — resumable sampling at 100 TB; the oracle
    makes the identical per-row decision."""
    from beholder_spark.operators import sample

    d = sample.sample_hash(_t(spark, sf_dir, "documents"), "doc_id", rate=0.1)
    return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "sample_stratified_langs",
    """
    SELECT lang, count(*) AS n
    FROM documents
    WHERE substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__NULL__')), 1, 8) <
          CASE WHEN lang = 'en' THEN '0ccccccc'    -- 5%
               WHEN lang = 'de' THEN 'g'           -- 100% ('g' > any hex)
               ELSE '33333333' END                 -- 20%
    GROUP BY lang
    """,
)
def sample_stratified_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling (downsample the dominant lang,
    keep low-resource ones): rate map compiles to a CASE literal — no
    join, one hash per row."""
    from beholder_spark.operators import sample

    d = sample.sample_stratified(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        rates={"en": 0.05, "de": 1.0},
        default_rate=0.2,
    )
    return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Training-batch shaping: sequence packing + token-budget domain mixing
# (operators/packing.py — new r5)
# ---------------------------------------------------------------------------


@_register(
    "pack_sequences_windows",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 32 AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), o AS (
      SELECT doc_id, n_tok,
             coalesce(sum(n_tok) OVER (
               ORDER BY shard, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM d
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(off AS BIGINT) AS tok_offset,
           CAST(off // 512 AS BIGINT) AS start_window,
           CAST(CASE WHEN n_tok > 0 THEN (off + n_tok - 1) // 512
                     ELSE off // 512 END AS BIGINT) AS end_window,
           CAST(CASE WHEN n_tok > 0
                     THEN (off + n_tok - 1) // 512 - off // 512 + 1
                     ELSE 0 END AS BIGINT) AS n_windows
    FROM o
    """,
)
def pack_sequences_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (doc → training-window map):
    deterministic (doc_id % 32, doc_id) layout cut every 512 tokens.
    Spark side is the two-phase distributed prefix sum (per-shard windows
    + a 32-row broadcast base-offset table — no global window over the
    corpus); the oracle re-derives the same layout with one global
    cumsum, which is only viable at oracle scale."""
    from beholder_spark.operators import packing

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return packing.pack_sequences(d, "n_tok", capacity=512, shards=32)


@_register(
    "pack_bins_nosplit",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id, doc_id % 32 AS shard,
             len(string_split(text, ' ')) AS n_tok,
             row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
      FROM documents
    ), packed AS (
      SELECT shard, rn, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_local, n_tok AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tok,
             CASE WHEN p.fill + d.n_tok > 512 AND p.fill > 0
                  THEN p.bin_local + 1 ELSE p.bin_local END,
             CASE WHEN p.fill + d.n_tok > 512 AND p.fill > 0
                  THEN d.n_tok ELSE p.fill + d.n_tok END
      FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(shard * 1099511627776 + bin_local AS BIGINT) AS bin_id,
           n_tok > 512 AS oversize
    FROM packed
    """,
)
def pack_bins_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split (SFT-style) bin packing: next-fit fold per shard via
    applyInPandas — docs never split across training rows, oversize docs
    flagged. The fold is inherently sequential PER SHARD (scalar state),
    so the shard is the parallelism unit; the oracle replays the exact
    fold as a recursive CTE (depth = max docs per shard)."""
    from beholder_spark.operators import packing

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return packing.pack_bins_nosplit(d, "n_tok", capacity=512, shards=32)


_MIX_WEIGHTS = {"en": 0.5, "de": 0.25, "fr": 0.25, "zh": 0.6}
_MIX_BUDGET = 8000


def _mix_weights_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())
    return f"CASE lang {whens} ELSE NULL END"


@_register(
    "mix_token_budget_langs",
    f"""
    WITH d AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), t AS (
      SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS tot,
             {_mix_weights_sql()} * {_MIX_BUDGET}.0 AS bud
      FROM d GROUP BY lang
    ), thr AS (
      SELECT lang,
             CASE WHEN tot <= bud THEN 'g'
                  WHEN floor(bud / tot * 4294967296.0) >= 4294967296
                       THEN 'g'
                  ELSE printf('%08x',
                       CAST(floor(bud / tot * 4294967296.0) AS BIGINT)) END AS thr
      FROM t WHERE bud IS NOT NULL
    )
    SELECT d.lang AS lang, count(*) AS kept_docs,
           CAST(sum(d.n_tok) AS BIGINT) AS kept_tok
    FROM d JOIN thr ON d.lang = thr.lang
    WHERE substring(md5(coalesce(CAST(d.doc_id AS VARCHAR), '__NULL__')), 1, 8)
          < thr
    GROUP BY d.lang
    """,
)
def mix_token_budget_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-ish static domain mixing to a token budget: per-lang keep
    rates derived IN-PLAN from per-lang token totals (|langs|-row
    broadcast — no collect, no RNG; md5 decisions shared bit-for-bit
    with the oracle). zh's share exceeds its corpus total → keep-all
    branch; es has no weight → dropped; the rest hash-sample at
    budget/total."""
    from beholder_spark.operators import packing

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    kept = packing.mix_token_budget(
        d, "lang", "n_tok", "doc_id", budget=_MIX_BUDGET, weights=_MIX_WEIGHTS
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tok").cast("long").alias("kept_tok"),
    )


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra token here")).alias("text"))
    )
    return d.unionByName(dups)


def _minhash_lane(j: int) -> str:
    """One minhash lane = an 8-hex-char slice of a salted md5 digest —
    mirrors operators/dedup.py:minhash_signatures (4 lanes per digest)."""
    salt, lane = j // 4, j % 4
    return f"min(substring(md5('{salt}:' || shingle), {lane * 8 + 1}, 8)) AS h{j}"


def _minhash_ctes(k: int = 8, bands: int = 4, cap: int | None = None) -> tuple[str, str]:
    """(cte_block, pairs_select): the shingle→sig→band CTEs plus the
    bucket self-join, assuming a ``corpus(doc_id, text)`` CTE in scope —
    reusable by both the standalone pair queries and the composed
    fuzzy-dedup pipeline oracle."""
    mins = ",\n             ".join(_minhash_lane(j) for j in range(k))
    rows = k // bands
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM sig".format(
            b=b, concat=" || ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    capped = (
        ""
        if cap is None
        else f""",
    capped AS (
      SELECT doc_id, band, bucket FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) <= {cap}
    )"""
    )
    src = "bands" if cap is None else "capped"
    ctes = f"""shingles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
           (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i)
    ),
    sig AS (
      SELECT doc_id, {mins}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ){capped}"""
    pairs = f"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {src} a JOIN {src} b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id"""
    return ctes, pairs


def _minhash_sql(k: int = 8, bands: int = 4, cap: int | None = None) -> str:
    ctes, pairs = _minhash_ctes(k, bands, cap)
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    {ctes}
    {pairs}
    """


@_register("dedup_minhash_lsh_capped", _minhash_sql(cap=2))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-bounded LSH path with a BINDING cap (max_bucket_size=2):
    every (band, bucket) keeps its two lowest doc_ids, so a boilerplate
    bucket contributes ≤1 pair instead of O(members²). The cap is
    deterministic (row_number ordered by doc_id) — the oracle reproduces
    it exactly with QUALIFY, proving the bound is a defined semantic, not
    silent truncation."""
    return dd.minhash_candidate_pairs(
        _corpus(spark, sf_dir), "doc_id", "text", shingle_n=3, max_bucket_size=2
    )


def _jaccard_sql(n: int = 5, threshold: float = 0.5, max_df: int | None = None) -> str:
    stop = (
        ""
        if max_df is None
        else f""",
    kept AS (
      SELECT * FROM shingles
      WHERE shingle NOT IN (
        SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) > {max_df}
      )
    )"""
    )
    src = "shingles" if max_df is None else "kept"
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    shingles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
           (SELECT unnest(generate_series(1, greatest(len(toks) - {n - 1}, 0))) AS i)
    ){stop},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM {src} GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM {src} a JOIN {src} b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(shared / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 4) >= {threshold}
    """


@_register("dedup_ngram_jaccard", _jaccard_sql())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over shingle-sharing candidate pairs; the
    ratio is int/int so both engines agree bit-for-bit. The default
    stop-shingle bound (df > 10k) is a deliberate no-op at oracle scale —
    the BINDING variant is oracle-checked by dedup_ngram_jaccard_stopfiltered."""
    return dd.ngram_jaccard_pairs(_corpus(spark, sf_dir), "doc_id", "text", shingle_n=5, threshold=0.5)


@_register("dedup_ngram_jaccard_stopfiltered", _jaccard_sql(threshold=0.3, max_df=3))
def dedup_ngram_jaccard_stopfiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard with a BINDING stop-shingle bound (document frequency > 3
    → boilerplate, dropped from the shingle sets): the self-join can no
    longer explode on one hot shingle, and Jaccard stays an exact int
    ratio over the filtered space — the oracle applies the identical
    frequency filter, proving the bound is defined semantics."""
    return dd.ngram_jaccard_pairs(
        _corpus(spark, sf_dir), "doc_id", "text", shingle_n=5, threshold=0.3, max_doc_freq=3
    )


def _simhash_sql(bits: int) -> str:
    sums = ",\n             ".join(
        f"sum(2 * (((strpos('0123456789abcdef', substr(md5(tok), {j // 4 + 1}, 1)) - 1)"
        f" >> {3 - j % 4}) & 1) - 1) AS s{j}"
        for j in range(bits)
    )
    assemble = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits))
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM sums
    """


@_register("dedup_simhash48", _simhash_sql(bits=48))
def dedup_simhash48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width 48-bit SimHash — same md5-nibble construction,
    oracle-exact at any width because the SQL twin is generated for the
    same bit count (widening is a parameter, not a port)."""
    return dd.simhash(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=48)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_COSINE_SQL = """
    WITH qv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    expl AS (
      SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS i FROM qv
    ),
    norms AS (SELECT vec_id, sum(x * x) AS n2 FROM expl GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.x * b.x) AS dot
      FROM expl a JOIN expl b ON a.i = b.i
      WHERE a.vec_id < 5 AND b.vec_id != a.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, nid,
             round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
      FROM dots JOIN norms na ON na.vec_id = qid JOIN norms nb ON nb.vec_id = nid
    )
    SELECT qid, nid, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


@_register("embed_cosine_topk", _COSINE_SQL)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (quantized int dot products → both
    engines agree exactly); broadcast query side, big side never shuffles."""
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", query_ids_max=5, k=3)


_COSINE_NEARDUP_SQL = """
    WITH qv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    expl AS (
      SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS i FROM qv
    ),
    norms AS (SELECT vec_id, sum(x * x) AS n2 FROM expl GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, sum(a.x * b.x) AS dot
      FROM expl a JOIN expl b ON a.i = b.i
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cosine FROM (
      SELECT doc_a, doc_b,
             round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
      FROM dots JOIN norms na ON na.vec_id = doc_a JOIN norms nb ON nb.vec_id = doc_b
    ) WHERE cosine >= 0.42
"""


@_register("dedup_embedding_cosine", _COSINE_NEARDUP_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (quantized-int exact arithmetic);
    broadcast self-join candidate generation, LSH-bucketed at scale."""
    return similarity.cosine_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.42
    )


def _lsh_neardup_sql(
    threshold: float = 0.42,
    n_tables: int = 16,
    ppt: int = 4,
    dim: int = 64,
    cap: int | None = None,
) -> str:
    """DuckDB twin of similarity.lsh_near_dup_pairs INCLUDING the LSH
    bucketing: integer-entry planes are re-derived from the same md5
    nibbles (`2*nibble−15`), so sign bits — hence buckets, candidates,
    and the exact rerank — reproduce bit-for-bit."""
    n_planes = n_tables * ppt
    cap_q = (
        f"QUALIFY row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) <= {cap}"
        if cap is not None
        else ""
    )
    return f"""
    WITH qv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    expl AS (
      SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) - 1 AS i FROM qv
    ),
    planes AS (
      SELECT p.p, i.i,
             2 * (strpos('0123456789abcdef',
                         substr(md5('iplane:' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i // 32 AS VARCHAR)),
                                CAST(i.i % 32 AS INT) + 1, 1)) - 1) - 15 AS v
      FROM (SELECT range AS p FROM range({n_planes})) p,
           (SELECT range AS i FROM range({dim})) i
    ),
    bits AS (
      SELECT e.vec_id, pl.p,
             CASE WHEN sum(e.x * pl.v) > 0 THEN 1 ELSE 0 END AS bit
      FROM expl e JOIN planes pl ON pl.i = e.i
      GROUP BY e.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id, CAST(p // {ppt} AS INT) AS t,
             CAST(sum(bit * (1 << CAST(p % {ppt} AS INT))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, p // {ppt}
    ),
    capped AS (
      SELECT vec_id, t, bucket FROM buckets
      {cap_q}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM capped a JOIN capped b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    norms AS (SELECT vec_id, sum(x * x) AS n2 FROM expl GROUP BY vec_id),
    dots AS (
      SELECT c.doc_a, c.doc_b, sum(ea.x * eb.x) AS dot
      FROM cand c
      JOIN expl ea ON ea.vec_id = c.doc_a
      JOIN expl eb ON eb.vec_id = c.doc_b AND eb.i = ea.i
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cosine FROM (
      SELECT doc_a, doc_b,
             round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
      FROM dots JOIN norms na ON na.vec_id = doc_a JOIN norms nb ON nb.vec_id = doc_b
    ) WHERE cosine >= {threshold}
    """


@_register("dedup_lsh_near_dup", _lsh_neardup_sql(cap=40))
def dedup_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE path for embedding near-dup: sign-LSH bucket SELF-join →
    capped candidates → exact quantized-int rerank ≥ threshold. Unlike
    typical ANN this is FULLY oracle-exact — integer-plane buckets
    reproduce in DuckDB (similarity.lsh_near_dup_pairs). Replaces the
    O(n²) dedup_embedding_cosine at corpus scale (that one stays
    registered as the small-scale exact twin / recall oracle)."""
    return similarity.lsh_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.42,
        max_bucket_size=40,
    )


# ---------------------------------------------------------------------------
# Remaining set-family + grouping shapes
# ---------------------------------------------------------------------------


@_register(
    "set_date_format",
    """
    SELECT strftime(ts, '%Y-%m-%d %H') AS hour_str, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def set_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 ``set $f date``: column-derived time formatting (deterministic —
    never current_timestamp in tested paths)."""
    df = fields.set_date(_t(spark, sf_dir, "events"), "hour_str", "ts", "yyyy-MM-dd HH")
    return df.groupBy("hour_str").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "set_basename",
    """
    SELECT doc_id,
           regexp_replace(
             list_extract(string_split('/logs/' || source || '/file ' || CAST(doc_id AS VARCHAR) || '.log', '/'), -1),
             '[^A-Za-z0-9._-]', '_', 'g') AS base
    FROM documents
    """,
)
def set_basename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 ``set $f basename``: last path segment, filename-sanitized."""
    df = _t(spark, sf_dir, "documents").withColumn(
        "path",
        F.concat(F.lit("/logs/"), F.col("source"), F.lit("/file "), F.col("doc_id").cast("string"), F.lit(".log")),
    )
    return fields.set_basename(df, "base", "path").select("doc_id", "base")


@_register(
    "cube_lang_source",
    """
    SELECT lang, source, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 cube: all grouping-set combinations in one pass."""
    return (
        _t(spark, sf_dir, "documents")
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


@_register(
    "pivot_type_by_day",
    """
    SELECT date_trunc('day', ts) AS day,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'error') AS error
    FROM events GROUP BY 1
    """,
)
def pivot_type_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = conditional aggregation (one pass, no extra shuffle)."""
    return (
        _t(spark, sf_dir, "events")
        .withColumn("day", F.date_trunc("day", "ts"))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "error"])
    )


@_register("approx_distinct_users", None)  # HLL sketch differs per engine → rows-only
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 scale path: HLL approx_count_distinct (fixed memory, one pass).
    Exact twin is distinct_users_by_type; sketches aren't cross-engine
    comparable so this records a rows-only check."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n_approx"))
    )


# ---------------------------------------------------------------------------
# Web-corpus curation (operators/webtext.py): URL canonicalization,
# span-level boilerplate dedup, repetition signals, contamination screen.
# Testdata has no url/paragraph columns, so both engines CONSTRUCT the
# same inputs in-query (the _corpus pattern) — the oracle checks the
# operator, not the synthesis.
# ---------------------------------------------------------------------------

_URL_BUILD_SQL = """
      SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 20 AS VARCHAR) ||
             '.COM:443/Path/' || CAST(doc_id AS VARCHAR) ||
             '?utm_source=x&id=' || CAST(doc_id AS VARCHAR) ||
             '&utm_campaign=y#frag' AS url
      FROM documents
"""


@_register(
    "webtext_url_canonicalize",
    f"""
    WITH u AS ({_URL_BUILD_SQL}),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '[?]([^#]*)', 1) AS query
      FROM u
    ),
    canon AS (
      SELECT doc_id,
        scheme || '://' ||
        CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
             WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
             ELSE hostport END ||
        CASE WHEN path = '' THEN '/' ELSE path END ||
        CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
          AS canonical_url
      FROM (
        SELECT *, list_filter(
          string_split(query, '&'),
          p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)(=|$)')
        ) AS kept
        FROM parts
      )
    )
    SELECT doc_id, canonical_url, md5(canonical_url) AS url_key FROM canon
    """,
)
def webtext_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization: lowercase scheme/host, strip default port +
    fragment + tracking params (utm_*/gclid/fbclid/msclkid/ref), md5 dedup
    key. Pure regexp column expressions — the IDENTICAL regexes run in
    the oracle, so 'canonical' has one definition on both engines."""
    from beholder_spark.operators import webtext

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Example"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".COM:443/Path/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&id="),
            F.col("doc_id").cast("string"),
            F.lit("&utm_campaign=y#frag"),
        ).alias("url"),
    )
    return webtext.with_canonical_url(d).select("doc_id", "canonical_url", "url_key")


@_register(
    "webtext_span_dedup",
    """
    WITH built AS (
      SELECT doc_id,
             text || chr(10) || 'copyright footer all rights reserved' ||
             chr(10) || substr(text, 1, 40) AS t2
      FROM documents WHERE text IS NOT NULL
    ),
    parts AS (
      SELECT doc_id, i AS pos, spans[i] AS span
      FROM (SELECT doc_id, string_split(t2, chr(10)) AS spans FROM built),
           (SELECT unnest(generate_series(1, len(spans))) AS i)
    ),
    hot AS (
      SELECT md5(span) AS h FROM parts GROUP BY 1 HAVING count(DISTINCT doc_id) > 2
    ),
    kept AS (
      SELECT p.* FROM parts p WHERE md5(p.span) NOT IN (SELECT h FROM hot)
    ),
    re AS (
      SELECT doc_id, string_agg(span, chr(10) ORDER BY pos) AS text_dedup
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, coalesce(re.text_dedup, '') AS text_dedup
    FROM built b LEFT JOIN re USING (doc_id)
    """,
)
def webtext_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style span-level dedup: paragraphs repeated across > 2 docs
    (the injected copyright footer — and any shared 40-char prefixes) are
    dropped; survivors reassemble in original order; fully-boilerplate
    docs survive as ''. Spans group on md5 (32 bytes shuffled, not text);
    the hot-span set broadcasts into the anti-join."""
    from beholder_spark.operators import webtext

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit("\ncopyright footer all rights reserved\n"),
                F.substring(F.col("text"), 1, 40),
            ).alias("t2"),
        )
    )
    return webtext.drop_repeated_spans(d, "doc_id", "t2", sep="\n", max_doc_freq=2).select(
        "doc_id", "text_dedup"
    )


@_register(
    "webtext_repetition",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT doc_id,
             round(1 - count(DISTINCT gram) / count(*), 4) AS dup_2gram_ratio
      FROM (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
        FROM t, (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i)
      )
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           round(1 - len(list_distinct(toks)) / len(toks), 4) AS dup_word_ratio,
           coalesce(g.dup_2gram_ratio, 0.0) AS dup_2gram_ratio
    FROM t LEFT JOIN grams g ON t.doc_id = g.doc_id
    """,
)
def webtext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-word / dup-2gram fractions):
    zero-shuffle array expressions that fuse into the scan projection —
    the template-page filter a corpus pipeline applies before training."""
    from beholder_spark.operators import webtext

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return webtext.with_repetition_stats(d, "text").select(
        "doc_id", "dup_word_ratio", "dup_2gram_ratio"
    )


@_register(
    "webtext_contamination",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    doc_sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM t, (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i)
    ),
    bench AS (SELECT DISTINCT md5(shingle) AS h FROM doc_sh WHERE doc_id < 20),
    marked AS (
      SELECT d.doc_id, CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM (SELECT doc_id, md5(shingle) AS h FROM doc_sh) d
      LEFT JOIN bench b USING (h)
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(hit) AS BIGINT) AS n_contaminated,
           round(sum(hit) / count(*), 4) AS contamination_ratio
    FROM marked GROUP BY doc_id
    """,
)
def webtext_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: per document, the fraction of its
    distinct 3-gram shingles found anywhere in the 'benchmark' set (docs
    0-19 stand in; a real eval set plugs into the same broadcast). The
    benchmark shingle hashes broadcast — no corpus self-join."""
    from beholder_spark.operators import webtext

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bench = d.filter(F.col("doc_id") < 20)
    return webtext.contamination_overlap(d, bench, "doc_id", "text", n=3)


# ---------------------------------------------------------------------------
# Time-ordered joins: as-of attribution, bounded interval join (operators/asof)
# ---------------------------------------------------------------------------


@_register(
    "asof_purchase_attribution",
    """
    WITH clicks AS (
      SELECT user_id, ts, round(max(value), 4) AS click_value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ),
    p AS (
      SELECT event_id, user_id, ts, round(value, 4) AS value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS asof_ts, c.click_value AS asof_click_value
    FROM p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (attribution): each purchase picks the most recent
    prior click of the same user, inclusive at equal timestamps.
    Spark lacks ASOF JOIN; the union-tag + window implementation is ONE
    shuffle on user_id with no pair explosion (operators/asof.py) — the
    oracle is DuckDB's native ASOF LEFT JOIN, proving the rewrite exact,
    including purchases with no prior click (NULLs, never dropped)."""
    from beholder_spark.operators import asof

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("click_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round(F.col("value"), 4).alias("value")
    )
    return asof.asof_join(purchases, clicks, ["user_id"], "ts", ["click_value"])


@_register(
    "interval_clicks_before_purchase",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           count(c.ts) AS n_in_window
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 1 HOUR
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def interval_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval join: clicks in the trailing hour before each
    purchase, per user. The Spark plan is a bucketed EQUI-join (right
    rows explode to the constant number of hour-buckets their window
    reaches; exact range predicate filters after) — no inequality-join
    nested loop, AQE-splittable keys. Oracle: the plain inequality join
    DuckDB can afford at this scale."""
    from beholder_spark.operators import asof

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof.interval_join_count(
        purchases, clicks, ["user_id"], "ts", window_seconds=3600
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over LSH candidate pairs
# ---------------------------------------------------------------------------


@_register(
    "dedup_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
    """,
)
def dedup_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    MinHash+LSH candidate pairs (min-label propagation, one equi-join +
    min-aggregate per round, convergence checked by scalar count —
    operators/dedup.py:connected_components). cluster_id = min doc_id in
    the component, so keep-one-per-cluster is `doc_id = cluster_id`.
    Oracle: DuckDB recursive CTE reachability over the same pairs."""
    pairs = dd.minhash_candidate_pairs(_corpus(spark, sf_dir), "doc_id", "text", shingle_n=3)
    cc = dd.connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# PII redaction (webtext)
# ---------------------------------------------------------------------------


@_register(
    "webtext_pii_redact",
    r"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.' || CAST(doc_id % 250 AS VARCHAR)
                  || '.7 card 4111 1111 1111 1111' AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
           len(regexp_extract_all(t, '\b[0-9]{4}([ \-][0-9]{4}){3}\b')) AS n_cards,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             '\b[0-9]{4}([ \-][0-9]{4}){3}\b', '<CARD>', 'g')) AS redacted_key
    FROM synth
    """,
)
def webtext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / IPv4 / card-shaped numbers → typed
    placeholders) with per-doc match counts. PII is synthesised
    deterministically from doc_id on BOTH engines so every row exercises
    every pattern; the three regexes are shared verbatim with the oracle
    (Java∩RE2 subset). Zero shuffle — fuses into the scan projection."""
    from beholder_spark.operators import webtext

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    synth = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".7 card 4111 1111 1111 1111"),
        ).alias("t"),
    )
    red = webtext.redact_pii(synth, "t", out_col="t_red")
    return red.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_ips").cast("bigint").alias("n_ips"),
        F.col("n_cards").cast("bigint").alias("n_cards"),
        F.md5(F.col("t_red")).alias("redacted_key"),
    )


# ---------------------------------------------------------------------------
# Composed curation pipeline: quality → repetition filter → exact dedup → stats
# ---------------------------------------------------------------------------


@_register(
    "curation_pipeline_counts",
    rf"""
    WITH base AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             round(len(list_filter(string_split(text, ' '), w -> w IN ({_STOP})))
                   / len(string_split(text, ' ')), 4) AS stop_ratio,
             round(1 - len(list_distinct(string_split(text, ' ')))
                   / len(string_split(text, ' ')), 4) AS dup_word_ratio,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents WHERE text IS NOT NULL
    ),
    filt AS (
      SELECT *,
             CASE WHEN n_tokens < 30 THEN 'short'
                  WHEN stop_ratio > 0.15 THEN 'fluent'
                  ELSE 'listy' END AS quality_bucket
      FROM base
      WHERE n_tokens >= 20 AND dup_word_ratio <= 0.3
    ),
    kept AS (
      SELECT * FROM filt
      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    )
    SELECT lang, quality_bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           max(stop_ratio) AS max_stop_ratio
    FROM kept GROUP BY lang, quality_bucket
    """,
)
def curation_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus-curation pipeline a training-data user runs
    end-to-end: quality scoring + Gopher repetition signals (both fused
    into the scan projection, zero extra passes) → threshold filter →
    exact dedup on the 32-byte content fingerprint (shuffles hashes,
    never text; keep lowest doc_id) → per-(lang, quality) stats. One
    oracle proves the whole chain, not just each stage in isolation."""
    from beholder_spark.operators import textstats, webtext
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = textstats.with_quality(d)
    d = webtext.with_repetition_stats(d)
    d = textstats.with_fingerprint(d)
    filt = d.filter((F.col("n_tokens") >= 20) & (F.col("dup_word_ratio") <= 0.3))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    kept = filt.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return kept.groupBy("lang", "quality_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("stop_ratio").alias("max_stop_ratio"),
    )


# ---------------------------------------------------------------------------
# Incremental (cross-snapshot) dedup: new crawl vs existing index
# ---------------------------------------------------------------------------


def _bands_cte(src: str, p: str, k: int = 8, bands: int = 4) -> str:
    """CTE fragments building LSH band buckets for one corpus `src`
    (prefix `p` keeps the two sides' CTEs distinct) — same math as
    _minhash_sql, parameterized by source."""
    mins = ",\n             ".join(_minhash_lane(j) for j in range(k))
    rows = k // bands
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM {p}sig".format(
            b=b, concat=" || ".join(f"h{b * rows + r}" for r in range(rows)), p=p
        )
        for b in range(bands)
    )
    return f"""
    {p}sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
           (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i)
    ),
    {p}sig AS (
      SELECT doc_id, {mins}
      FROM {p}sh GROUP BY doc_id
    ),
    {p}bands AS (
      {band_selects}
    )"""


@_register(
    "dedup_incremental_new_vs_index",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    newdocs AS (SELECT * FROM corpus WHERE doc_id >= 250),
    idx AS (SELECT * FROM corpus WHERE doc_id < 250),
    {_bands_cte("newdocs", "n_")},
    {_bands_cte("idx", "i_")}
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
    FROM n_bands a JOIN i_bands b ON a.band = b.band AND a.bucket = b.bucket
    """,
)
def dedup_incremental_new_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: LSH candidates between the NEW snapshot
    and the already-kept INDEX (new×index bucket join — never new×new or
    index×index; index signatures persist as a table in production).
    The synthetic corpus's near-dup variants (+1M ids) land on the new
    side and their originals in the index, so real cross-snapshot pairs
    exist. Oracle reproduces both sides' signatures bit-for-bit."""
    d = _corpus(spark, sf_dir)
    index = d.filter(F.col("doc_id") < 250)
    new = d.filter(F.col("doc_id") >= 250)
    return dd.incremental_candidate_pairs(new, index, "doc_id", "text", shingle_n=3)


@_register(
    "time_between_events",
    """
    WITH d AS (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id,
           CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_sec
    FROM d
    """,
)
def time_between_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gaps per user (lag window) — the rate/heartbeat
    signal a log pipeline derives per source; first event per user keeps
    a NULL gap (no silent drop). One shuffle on user_id; the same window
    partitioning is reusable by running totals / sessionization in the
    same pass."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("bigint").alias("gap_sec"),
    )


@_register(
    "adaptive_length_filter",
    """
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    thr AS (
      SELECT lang, quantile_cont(n_tokens, 0.1) AS p10
      FROM t GROUP BY lang
    )
    SELECT t.lang, count(*) AS n_kept,
           CAST(sum(t.n_tokens) AS BIGINT) AS kept_tokens,
           round(max(thr.p10), 4) AS p10
    FROM t JOIN thr USING (lang)
    WHERE t.n_tokens >= thr.p10
    GROUP BY t.lang
    """,
)
def adaptive_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE adaptive quality thresholds — fixed length cutoffs
    over-prune low-resource languages, so the cutoff is each language's
    own exact p10 (two-pass: tiny per-lang aggregate → broadcast back →
    filter; the second pass fuses with any downstream curation stage).
    Exact interpolated percentile on both engines → bit-identical
    thresholds, deterministic kept-set."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    )
    thr = d.groupBy("lang").agg(F.percentile("n_tokens", 0.1).alias("p10"))
    kept = d.join(F.broadcast(thr), "lang").filter(F.col("n_tokens") >= F.col("p10"))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
        F.round(F.max("p10"), 4).alias("p10"),
    )


@_register(
    "dedup_winnow_overlap",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM corpus WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))) AS grams
      FROM t
    ),
    m AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(grams) - 3, 0) + 1),
                                          j -> list_min(list_slice(grams, j, j + 3)))) AS fps
      FROM g
    ),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM m)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fp
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs via shared MOSS winnowing fingerprints — the
    copied-span detector (dedup.winnow_overlap_pairs): a lifted paragraph
    links two otherwise-different pages. Join key = 32-byte fingerprint;
    hot fingerprints are cap-filtered (no-op on this corpus — same
    discipline as the LSH bucket cap); exact shared counts, oracle-exact."""
    return dd.winnow_overlap_pairs(_corpus(spark, sf_dir), "doc_id", "text")


@_register(
    "textstats_script_profile",
    """
    WITH synth AS (
      SELECT doc_id,
             text || CASE WHEN lang = 'zh' THEN ' 数据处理系统分析模型训练语料清洗'
                          WHEN lang = 'de' THEN ' Straße äöü Übung'
                          WHEN lang = 'fr' THEN ' café déjà élève'
                          ELSE '' END AS t
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z]')) AS n_latin,
             len(regexp_extract_all(t, '[一-龥]')) AS n_cjk,
             len(regexp_extract_all(t, '[а-яА-ЯёЁ]')) AS n_cyrillic,
             len(regexp_extract_all(t, '[0-9]')) AS n_digit
      FROM synth
    )
    SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_digit,
           CASE WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic AND n_latin >= n_digit THEN 'latin'
                WHEN n_cjk >= n_latin AND n_cjk >= n_cyrillic AND n_cjk >= n_digit THEN 'cjk'
                WHEN n_cyrillic >= n_latin AND n_cyrillic >= n_cjk AND n_cyrillic >= n_digit THEN 'cyrillic'
                ELSE 'digit' END AS dominant_script
    FROM c
    """,
)
def textstats_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script character profile (textstats.with_script_profile):
    mixed-script and wrong-lang-tag screening. Script content is
    synthesised deterministically per lang on both engines (the corpus is
    ASCII); the literal-character-range regexes are shared verbatim
    (Java∩RE2). Zero shuffle — fuses into the scan projection."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    synth = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("lang") == "zh", F.lit(" 数据处理系统分析模型训练语料清洗"))
            .when(F.col("lang") == "de", F.lit(" Straße äöü Übung"))
            .when(F.col("lang") == "fr", F.lit(" café déjà élève"))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    out = textstats.with_script_profile(synth, "t")
    return out.select(
        "doc_id",
        *[F.col(f"n_{s}").cast("bigint").alias(f"n_{s}") for s in ("latin", "cjk", "cyrillic", "digit")],
        "dominant_script",
    )


@_register(
    "textstats_rare_tokens",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    freq AS (
      SELECT tok, count(DISTINCT doc_id) AS tok_df FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           count(*) AS n_distinct_tokens,
           CAST(sum(CASE WHEN f.tok_df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           round(sum(CASE WHEN f.tok_df <= 2 THEN 1 ELSE 0 END) / count(*), 4) AS rare_ratio
    FROM toks t JOIN freq f USING (tok)
    GROUP BY t.doc_id
    """,
)
def textstats_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token (OOV-ish) ratio per document — corpus-relative
    gibberish/OCR-damage signal (textstats.rare_token_stats): distinct
    tokens appearing in ≤2 documents corpus-wide. Integer-only
    arithmetic (no float accumulation order), oracle-exact."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return textstats.rare_token_stats(d, "doc_id", "text")


@_register(
    "parse_fieldpack_roundtrip",
    """
    SELECT event_id, event_type, CAST(user_id AS VARCHAR) AS uid, props,
           TRUE AS parse_ok
    FROM events
    """,
)
def parse_fieldpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 ``parse fieldpack`` (SURVEY.md §2.2): encode∘decode == identity
    over the events table. The oracle recomputes the expected fields
    directly from the source columns, so a hash match proves the binary
    roundtrip byte-exact end to end (wire framing SPEC-pinned in
    operators/parse.py — magic/version/LEB128 length-prefixed UTF-8)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("user_id").cast("string").alias("uid"),
        "props",
    )
    enc = parse.fieldpack_encode(ev, ["event_type", "uid", "props"], out="fp")
    dec = parse.parse_fieldpack(
        enc.select("event_id", "fp"), col="fp",
        fields=["event_type", "uid", "props"], keep_unparsed=True,
    )
    return dec.select("event_id", "event_type", "uid", "props", "parse_ok")


# ---------------------------------------------------------------------------
# Driver-sweep ordering
# ---------------------------------------------------------------------------
#
# The driver's correctness sweep covers the FIRST 50 registered queries in
# dict order.  Registration above is grouped by module, so `_SWEEP_FIRST`
# (at the end of this file) reorders the registry: its 50 entries hold >=1
# oracle-exact representative of every SURVEY.md §2 operator family plus
# every flagship operator.  Everything past the cutoff stays registered and
# is still verified by tools/check_oracle.py and the test suite.

from beholder_spark.operators import webtext  # noqa: E402

_FUZZY_CTES, _FUZZY_PAIRS = _minhash_ctes()


@_register(
    "dedup_fuzzy_pipeline_counts",
    f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' extra token here' AS text, lang
      FROM documents WHERE doc_id < 50
    ),
    {_FUZZY_CTES},
    pairs AS ({_FUZZY_PAIRS}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
    ),
    clusters AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
    survivors AS (
      SELECT c.doc_id, c.lang, coalesce(cl.cluster_id, c.doc_id) AS cluster_id
      FROM corpus c LEFT JOIN clusters cl ON cl.doc_id = c.doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE doc_id = cluster_id) AS n_survivors,
           count(*) FILTER (WHERE doc_id <> cluster_id) AS n_dropped
    FROM survivors GROUP BY lang
    """,
)
def dedup_fuzzy_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL fuzzy dedup as ONE composed pipeline (the FineWeb-style
    operation a training corpus actually runs): MinHash+LSH candidate
    pairs → connected components → canonical-survivor selection (keep
    the min-doc_id member of every duplicate cluster; singletons keep
    themselves) → per-language survivor accounting. The oracle replays
    the ENTIRE chain in DuckDB — signatures, banding, recursive-CTE
    reachability, survivor rule — so one hash match proves every stage.

    Scale shape: the expensive parts are exactly the audited pieces
    (bucket join with deterministic caps; min-label propagation with one
    equi-join per round); the survivor step adds one broadcast-sized
    left join of cluster labels (near-dup clusters are a small fraction
    of the corpus) and a zero-shuffle count aggregate."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token here")).alias("text"),
        F.col("lang"),
    )
    corpus = d.unionByName(dups)
    pairs = dd.minhash_candidate_pairs(corpus, "doc_id", "text", shingle_n=3)
    cc = dd.connected_components(pairs).withColumnRenamed("node", "doc_id")
    sv = corpus.join(cc, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    return sv.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("doc_id") == F.col("cluster_id")).alias("n_survivors"),
        F.count_if(F.col("doc_id") != F.col("cluster_id")).alias("n_dropped"),
    )


@_register(
    "dedup_fuzzy_quality_survivors",
    f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' extra token here' AS text, lang
      FROM documents WHERE doc_id < 50
    ),
    {_FUZZY_CTES},
    pairs AS ({_FUZZY_PAIRS}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
    ),
    clusters AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
    memb AS (
      SELECT c.doc_id, c.lang, length(c.text) AS n_chars,
             coalesce(cl.cluster_id, c.doc_id) AS cluster_id
      FROM corpus c LEFT JOIN clusters cl ON cl.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
      ) AS rk FROM memb
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE rk = 1) AS n_survivors,
           CAST(sum(n_chars) FILTER (WHERE rk = 1) AS BIGINT) AS survivor_chars
    FROM ranked GROUP BY lang
    """,
)
def dedup_fuzzy_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE survivor policy for fuzzy dedup (the FineWeb-style
    refinement of dedup_fuzzy_pipeline_counts): within each near-dup
    cluster keep the member with the MOST content (char count, doc_id
    tie-break) instead of the smallest id — on this fixture the two
    policies VISIBLY diverge (the injected near-dups are longer than
    their originals, so the quality rule keeps the opposite member),
    and the oracle replays signatures → banding → reachability →
    ranked survivor rule end-to-end.

    Scale shape: identical to the min-id pipeline plus ONE window over
    clusters — near-dup clusters are tiny (bounded by the LSH caps), so
    the rank shuffle carries (cluster_id, n_chars, doc_id) triples, not
    text."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token here")).alias("text"),
        F.col("lang"),
    )
    corpus = d.unionByName(dups)
    pairs = dd.minhash_candidate_pairs(corpus, "doc_id", "text", shingle_n=3)
    cc = dd.connected_components(pairs).withColumnRenamed("node", "doc_id")
    memb = (
        corpus.join(cc, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .withColumn("n_chars", F.length("text"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    ranked = memb.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("rk") == 1).alias("n_survivors"),
        F.sum(F.when(F.col("rk") == 1, F.col("n_chars"))).cast("long").alias("survivor_chars"),
    )


@_register(
    "parse_warc_records",
    """
    WITH r0 AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS rec_no, 'response' AS warc_type,
             'https://example.com/' || lang || '/' || doc_id AS target_uri,
             '2025-01-01T00:00:00Z' AS warc_date,
             CAST(200 AS BIGINT) AS http_status,
             CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
             md5(text) AS body_md5,
             TRUE AS parse_ok
      FROM documents
    ), r1 AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS rec_no, 'metadata' AS warc_type,
             'https://example.com/' || lang || '/' || doc_id AS target_uri,
             '2025-01-01T00:00:00Z' AS warc_date,
             CAST(NULL AS BIGINT) AS http_status,
             CAST(octet_length(encode('lang=' || lang)) AS BIGINT) AS body_len,
             md5('lang=' || lang) AS body_md5,
             TRUE AS parse_ok
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT * FROM r0 UNION ALL SELECT * FROM r1
    """,
)
def parse_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest round-trip (`parse.parse_warc`): genuine CC-style
    segments (one gzip member per record, HTTP-wrapped response bodies)
    are muxed per document and parsed back — record framing, gzip member
    chaining, header extraction, embedded-HTTP split, and body bytes all
    verified, the last via md5 recomputed independently by DuckDB over
    the same text. This is the ingest step that PRODUCES the engine's
    north-star (url, warc_ts, html, ...) table from what Common Crawl
    actually publishes; multiplicity-changing mapInPandas, zero
    exchanges, scan-riding at 100 TB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    seg = parse.with_warc_payload(docs, "doc_id", "text", "lang")
    return parse.parse_warc(seg, "payload", "doc_id").withColumnRenamed("id", "doc_id")


@_register(
    "warc_ingest_dedup_counts",
    """
    WITH resp AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
    sv AS (SELECT h, min(doc_id) AS keeper FROM resp GROUP BY h)
    SELECT r.lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE r.doc_id = s.keeper) AS n_survivors,
           count(*) FILTER (WHERE r.doc_id <> s.keeper) AS n_dropped
    FROM resp r JOIN sv s ON s.h = r.h
    GROUP BY r.lang
    """,
)
def warc_ingest_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl ingest → curation in ONE oracle: genuine WARC
    segments are parsed (`parse_warc`), HTTP response records filtered,
    the language derived from the crawled URI (regexp over target_uri —
    field derivation from parsed metadata, not a side channel), exact
    dedup runs on the record body's md5 (min-doc_id survivor), and
    per-language survivor accounting comes out. The DuckDB twin
    re-derives everything from the source table, so one hash match
    proves container framing + gzip chaining + HTTP split + body-byte
    fidelity + the dedup rule + the aggregate, composed.

    Scale shape: record split rides the scan (mapInPandas, zero
    exchanges); the only shuffles are the md5-keyed dedup aggregate
    (32-byte keys, never bodies) and the bookkeeping-sized count — the
    same audited pieces as fingerprint_dups."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    rec = parse.parse_warc(parse.with_warc_payload(docs, "doc_id", "text", "lang"), "payload", "doc_id")
    resp = rec.filter((F.col("warc_type") == "response") & F.col("parse_ok")).select(
        F.col("id").alias("doc_id"),
        F.regexp_extract("target_uri", r"example\.com/([a-z]+)/", 1).alias("lang"),
        F.col("body_md5").alias("h"),
    )
    sv = resp.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    j = resp.join(sv, "h")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("doc_id") == F.col("keeper")).alias("n_survivors"),
        F.count_if(F.col("doc_id") != F.col("keeper")).alias("n_dropped"),
    )


@_register(
    "webtext_badwords_blocklist",
    f"""
    WITH p AS (
      SELECT doc_id,
             'www.example' || (doc_id % 20) || '.com' AS host,
             CASE WHEN doc_id % 7 = 0 THEN text || ' visit my CASINO now'
                  ELSE text END AS body
      FROM documents
    )
    SELECT doc_id, host,
           CAST(length(regexp_extract_all(body, '{webtext.BADWORD_RE}')) AS BIGINT) AS bad_hits,
           length(regexp_extract_all(body, '{webtext.BADWORD_RE}')) > 0 AS bad_flag
    FROM p
    WHERE (doc_id % 20) % 4 <> 0
    """,
)
def webtext_badwords_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style page screening, composed: a domain BLOCKLIST anti-join
    (through the count-gated broadcast guard) removes blocked hosts,
    then the pinned lexicon regex counts bad-word hits per surviving
    page (bad words injected deterministically on both engines, like
    the PII fixture). The lexicon regex is shared VERBATIM with the
    oracle so 'bad' has one definition. Zero-shuffle screen + one
    bookkeeping-sized anti-join — the exact shape C4's cleanup runs at
    crawl scale."""
    from beholder_spark.operators import webtext

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("www.example"), (F.col("doc_id") % 20).cast("string"), F.lit(".com")).alias("host"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" visit my CASINO now"))
        ).otherwise(F.col("text")).alias("body"),
    )
    blocked = (
        d.select("doc_id", F.col("host").alias("bhost"))
        .filter((F.col("doc_id") % 20) % 4 == 0)
        .select("bhost")
        .distinct()
    )
    kept = webtext.blocklist_filter(d, "host", blocked, blocked_col="bhost")
    out = webtext.with_badword_stats(kept, "body")
    return out.select("doc_id", "host", "bad_hits", "bad_flag")


@_register(
    "config_internal_log_counts",
    """
    SELECT 'curate' AS stage,
           count(*) AS rows_out,
           count(*) FILTER (WHERE length(text) < 200) AS parse_failures,
           CAST(0 AS BIGINT) AS dropped,
           count(DISTINCT lang) AS n_partitions
    FROM documents
    """,
)
def config_internal_log_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/P6 self-observability round-trip IN CONFIG LANGUAGE: a real
    checkpointed stage run writes the ``_lineage`` table, then the config
    ``from internal-log '<root>'; parse beholder-stats;`` scans the
    engine's own metrics as messages and recovers the typed counters —
    which the oracle independently re-derives from the source table
    (rows_out/parse_failures/n_partitions from first principles, not by
    re-reading the lineage parquet).

    Lineage rows are summed per stage so resume runs (rows_out=0 lineage
    rows) can't change the answer.
    """
    import hashlib
    import os
    import shutil

    from beholder_spark.config import compile_config
    from beholder_spark.plans import lineage as ln

    st = os.stat(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    root = f"/tmp/beholder_ilog_{tag}"
    marker = os.path.join(root, "_ILOG_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        docs = _t(spark, sf_dir, "documents")
        ln.run_stage(
            spark,
            root,
            "curate",
            docs.select("doc_id", "lang", "text"),
            partition_col="lang",
            extra_metrics={"parse_failures": F.count_if(F.length("text") < 200)},
        )
        open(marker, "w").close()

    cfg = f"""
    from internal-log '{root}';
    parse beholder-stats;
    keep $stage $rows_out $parse_failures $dropped $n_partitions $parse_ok;
    """
    out = compile_config(cfg)(None, spark=spark)
    return (
        out.filter("parse_ok")
        .groupBy("stage")
        .agg(
            F.sum("rows_out").alias("rows_out"),
            F.sum("parse_failures").alias("parse_failures"),
            F.sum("dropped").alias("dropped"),
            F.sum("n_partitions").alias("n_partitions"),
        )
    )


# ---------------------------------------------------------------------------
# LM-data curation trio (operators/lmdata.py): CCNet-style perplexity
# quality screen, ExactSubstr repeated-span removal, DSIR resampling
# ---------------------------------------------------------------------------

from beholder_spark.operators import lmdata  # noqa: E402


@_register(
    "lm_perplexity_scores",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
    ),
    ref AS (
      SELECT * FROM d
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
    ),
    rbg AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2
      FROM ref, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    cb AS (SELECT w1, w2, count(*) AS c_bg FROM rbg GROUP BY 1, 2),
    cc AS (SELECT w1, count(*) AS c_ctx FROM rbg GROUP BY 1),
    vs AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(toks) AS tok FROM ref)
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    lp AS (
      SELECT bg.doc_id,
             ln((coalesce(cb.c_bg, 0) + 1) / (coalesce(cc.c_ctx, 0) + vs.v)) AS lp
      FROM bg
      LEFT JOIN cb USING (w1, w2)
      LEFT JOIN cc USING (w1)
      CROSS JOIN vs
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(-avg(lp), 4) AS cross_entropy,
           round(exp(-avg(lp)), 3) AS ppl
    FROM lp
    GROUP BY doc_id
    """,
)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality screen (lmdata.train_bigram_lm +
    score_perplexity): an add-one bigram LM is TRAINED IN SPARK on a
    deterministic md5 80% reference split, then every document is scored
    by cross-entropy/perplexity under it. The LM is two hash aggregates;
    scoring is two left equi-joins + one per-doc aggregate — no Python,
    no KenLM blob, AQE-skew-safe token keys. The oracle retrains the
    identical LM from first principles (same md5 split, same smoothing)
    so the hash match covers train AND score."""
    from beholder_spark.operators import sample

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).filter(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    ref = sample.sample_hash(d, "doc_id", 0.8)
    cb, cc, vs = lmdata.train_bigram_lm(ref, "text")
    return lmdata.score_perplexity(d, cb, cc, vs, "doc_id", "text")


@_register(
    "lm_repeated_span_removal",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5('s:' || list_aggr(toks[i:i+7], 'string_agg', ' ')) AS gram_h
      FROM d, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
    ),
    dup AS (SELECT gram_h FROM g GROUP BY gram_h HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT g.doc_id, g.pos + o AS cpos
      FROM g JOIN dup USING (gram_h), UNNEST(generate_series(0, 7)) AS s(o)
    ),
    tokpos AS (
      SELECT doc_id, i AS pos, toks[i] AS w
      FROM d, UNNEST(generate_series(1, len(toks))) AS t(i)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.w
      FROM tokpos t
      LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
      WHERE c.cpos IS NULL
    ),
    ka AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(w, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(d.toks) AS n_tokens,
           len(d.toks) - coalesce(ka.n_kept, 0) AS n_removed,
           coalesce(ka.text_clean, '') AS text_clean
    FROM d LEFT JOIN ka USING (doc_id)
    """,
)
def lm_repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal, Lee et al. 2022 semantics
    (lmdata.remove_repeated_spans): every 8-token window occurring ≥2
    times corpus-wide (intra- OR inter-document) is excised from every
    document it touches; survivors re-join in order. Suffix-array-free
    Spark shape: k-gram explode → count on the md5 gram key → coverage
    join back → per-doc JVM token filter. All-integer/string output —
    the oracle rebuilds coverage through an independent position-join
    formulation, so a hash match proves the span arithmetic, not just
    the counts."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    out = lmdata.remove_repeated_spans(d, "doc_id", "text", k=8, min_count=2)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
        "text_clean",
    )


@_register(
    "lm_ppl_bucket_split",
    """
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
    ),
    ref AS (
      SELECT * FROM d
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
    ),
    rbg AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2
      FROM ref, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    cb AS (SELECT w1, w2, count(*) AS c_bg FROM rbg GROUP BY 1, 2),
    cc AS (SELECT w1, count(*) AS c_ctx FROM rbg GROUP BY 1),
    vs AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(toks) AS tok FROM ref)
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    lp AS (
      SELECT bg.doc_id,
             ln((coalesce(cb.c_bg, 0) + 1) / (coalesce(cc.c_ctx, 0) + vs.v)) AS lp
      FROM bg
      LEFT JOIN cb USING (w1, w2)
      LEFT JOIN cc USING (w1)
      CROSS JOIN vs
    ),
    s AS (
      SELECT doc_id, round(exp(-avg(lp)), 3) AS ppl
      FROM lp GROUP BY doc_id
    ),
    sl AS (
      SELECT s.doc_id, dl.lang, s.ppl
      FROM s JOIN (SELECT doc_id, lang FROM d) dl USING (doc_id)
    ),
    cuts AS (
      SELECT lang,
             round(quantile_cont(ppl, 1.0/3), 4) AS c1,
             round(quantile_cont(ppl, 2.0/3), 4) AS c2
      FROM sl GROUP BY lang
    )
    SELECT sl.doc_id, sl.lang, sl.ppl,
           CASE WHEN sl.ppl <= c.c1 THEN 'head'
                WHEN sl.ppl <= c.c2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM sl JOIN cuts c USING (lang)
    """,
)
def lm_ppl_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (lmdata.ppl_bucket_split over
    lmdata.score_perplexity): per-language tercile cutoffs of LM
    perplexity via ONE exact percentile aggregate (p·(n−1) interpolation,
    identical to DuckDB quantile_cont on the shared 3dp ppl grid), then a
    broadcast-join CASE assignment. Threshold-based on purpose: a rank
    window PARTITION BY lang would put all of 'en' in one task at 100 TB,
    the cutoff aggregate keeps the heavy side embarrassingly parallel.
    The oracle retrains the LM, rescores, and re-derives the cutoffs from
    first principles, so the hash match covers train + score + split."""
    from beholder_spark.operators import sample

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).filter(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    ref = sample.sample_hash(d, "doc_id", 0.8)
    cb, cc, vs = lmdata.train_bigram_lm(ref, "text")
    scored = lmdata.score_perplexity(d, cb, cc, vs, "doc_id", "text")
    return lmdata.ppl_bucket_split(
        scored.join(d.select("doc_id", "lang"), "doc_id"), "lang", "doc_id", "ppl"
    )


@_register(
    "dsir_resample_en",
    """
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    uni AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('u:' || f), 1, 4))::BIGINT % 64 AS bucket
      FROM (SELECT doc_id, lang, unnest(toks) AS f FROM d)
    ),
    bi AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('b:' || toks[i] || ' ' || toks[i+1]), 1, 4))::BIGINT % 64 AS bucket
      FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    tcounts AS (SELECT bucket, count(*) AS t_b FROM feats WHERE lang = 'en' GROUP BY 1),
    rcounts AS (SELECT bucket, count(*) AS r_b FROM feats GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM feats WHERE lang = 'en') AS t_tot,
                   (SELECT count(*) FROM feats) AS r_tot),
    lam AS (
      SELECT s.bucket,
             ln((coalesce(t.t_b, 0) + 0.5) / (tot.t_tot + 32.0))
             - ln((coalesce(r.r_b, 0) + 0.5) / (tot.r_tot + 32.0)) AS lam
      FROM (SELECT unnest(generate_series(0, 63)) AS bucket) s
      LEFT JOIN tcounts t USING (bucket)
      LEFT JOIN rcounts r USING (bucket)
      CROSS JOIN tot
    ),
    w AS (
      SELECT f.doc_id, count(*) AS n_feats, round(sum(l.lam), 4) AS logw
      FROM feats f JOIN lam l USING (bucket)
      GROUP BY f.doc_id
    ),
    keyed AS (
      SELECT d.doc_id, d.lang, w.n_feats, w.logw,
             round(w.logw - ln(-ln(
               (('0x' || substr(md5('g:' || CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT + 0.5)
               / 16777216.0)), 4) AS gumbel
      FROM (SELECT doc_id, lang FROM d) d JOIN w USING (doc_id)
    )
    SELECT doc_id, lang, n_feats, logw, gumbel,
           (row_number() OVER (PARTITION BY lang ORDER BY gumbel DESC, doc_id)
            <= ceil(count(*) OVER (PARTITION BY lang) * 0.25)) AS selected
    FROM keyed
    """,
)
def dsir_resample_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward an English target (Xie et al.
    2023; lmdata.dsir_resample): hashed unigram+bigram features (64 md5
    buckets), per-bucket target/raw log-ratios on a dense bucket spine,
    per-doc importance weight via a BROADCAST join against the 64-row λ
    table, then Gumbel-top-25%-per-language selection where the Gumbel
    noise is an md5 uniform — true weighted sampling (Gumbel-max trick),
    zero rand(), fully oracle-reproducible. Rank windows partition by
    lang, so no single-partition global sort exists in the plan."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return lmdata.dsir_resample(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text",
        strata_col="lang", n_buckets=64, quota=0.25,
    )


_SWEEP_FIRST = [
    # the flagship's stats and the text/binary parsers every pipeline starts with
    "flagship_stats_by_type_hour",
    "parse_syslog_roundtrip",
    "parse_fieldpack_roundtrip",
    # routing and the config front end, including the engine reading its own _lineage
    "route_switch_lang",
    "config_switch_routed_counts",
    "config_internal_log_counts",
    # field rewriting: the set/keep column-codegen family
    "set_date_format",
    "set_basename",
    # the join shapes: broadcast enrich, anti-join resume, union, skew salting
    "enrich_broadcast_geo",
    "anti_orders_without_lineitems",
    "union_sources_counts",
    "salted_join_order_priority",
    # one twin per aggregation, window and streaming shape
    "distinct_users_by_type",
    "approx_distinct_users",
    "topk_source_per_lang",
    "dedup_latest_event_per_user",
    "running_total_per_user",
    "sessionize_user_events",
    "percentiles_value_by_type",
    "cube_lang_source",
    "pivot_type_by_day",
    "stream_windowed_counts_events",
    # webtext ingest: the WARC path the flagship corpus arrives through
    "parse_warc_records",
    "warc_ingest_dedup_counts",
    "webtext_badwords_blocklist",
    # the training-data dedup flagships: near-dup, clustering, similarity
    "dedup_minhash_lsh_capped",
    "dedup_simhash48",
    "dedup_dup_clusters",
    "dedup_incremental_new_vs_index",
    "dedup_winnow_overlap",
    "dedup_lsh_near_dup",
    "dedup_fuzzy_pipeline_counts",
    "dedup_fuzzy_quality_survivors",
    "embed_cosine_topk",
    # the temporal-join flagships
    "asof_purchase_attribution",
    "interval_clicks_before_purchase",
    # the web-corpus curation flagships and text stats
    "webtext_span_dedup",
    "webtext_contamination",
    "webtext_pii_redact",
    "curation_pipeline_counts",
    "adaptive_length_filter",
    "textstats_rare_tokens",
    "textstats_bpe_tokens",
    # LM-data curation; tests/test_lmdata.py pins their rounding-boundary margins
    "lm_perplexity_scores",
    "lm_repeated_span_removal",
    "lm_ppl_bucket_split",
    "dsir_resample_en",
    # training-batch shaping: the packing and mixing family
    "pack_sequences_windows",
    "pack_bins_nosplit",
    "mix_token_budget_langs",
]

# The two approximate/iterative entries are rows-only BY DOCUMENTED DESIGN
# (SURVEY §8): the driver records a weaker rows-only check for them; their
# exactness is covered by independent pytest verifiers
# (tests/test_pipeline_e2e.py: BPE corpus twin + test_hll_approx_distinct_
# within_error_bound).  Every other sweep entry must carry a DuckDB oracle twin.
_SWEEP_ROWS_ONLY = {"approx_distinct_users", "textstats_bpe_tokens"}


def _reorder_for_sweep() -> None:
    missing = [n for n in _SWEEP_FIRST if n not in QUERIES]
    if missing:
        raise KeyError(f"sweep-order names not registered: {missing}")
    no_oracle = [
        n
        for n in _SWEEP_FIRST
        if QUERIES[n][1] is None and n not in _SWEEP_ROWS_ONLY
    ]
    if no_oracle:
        raise ValueError(f"sweep-first entries must be oracle-exact: {no_oracle}")
    first = set(_SWEEP_FIRST)
    ordered = {n: QUERIES[n] for n in _SWEEP_FIRST}
    ordered.update({n: e for n, e in QUERIES.items() if n not in first})
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_for_sweep()
