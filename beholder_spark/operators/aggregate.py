"""Aggregations / windows / dedup — the stats layer (SURVEY.md §2.7 A2-A9).

Beholder only has internal stats counters; BASELINE.json:6 makes
per-sink aggregate counts (messages per host/lang/time-bucket) a
first-class capability. Everything here is built-in hash aggregation —
partial (map-side) + final automatically, spilling, codegen'd. Custom
code is limited to shapes Spark lacks as single calls (deterministic
dedup, per-group top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(df: DataFrame, ts_col: str, granularity: str = "hour", out_col: str = "bucket") -> DataFrame:
    """A3: tumbling time bucket via ``date_trunc`` (codegen'd, groupable,
    partition-prunable when the table is partitioned by day)."""
    return df.withColumn(out_col, F.date_trunc(granularity, F.col(ts_col)))


def stats_counts(df: DataFrame, keys: list[str], ts_col: str | None = None, granularity: str = "hour") -> DataFrame:
    """A2: messages-per-key(-per-bucket) — Beholder's stats command.

    One hash aggregate; the shuffle carries only (keys → partial counts),
    so at 100 TB the exchanged bytes are proportional to key cardinality,
    not input size.
    """
    if ts_col is not None:
        df = time_bucket(df, ts_col, granularity)
        keys = [*keys, "bucket"]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def distinct_count(df: DataFrame, keys: list[str], col: str, exact: bool = True, rsd: float = 0.02) -> DataFrame:
    """A4: distinct values per key. Exact for oracle tests; HLL
    (``approx_count_distinct``) at scale — one pass, fixed memory."""
    agg = F.countDistinct(col) if exact else F.approx_count_distinct(col, rsd)
    return df.groupBy(*keys).agg(agg.alias("n_distinct"))


def top_k_global(df: DataFrame, key: str, k: int) -> DataFrame:
    """A5 global top-k: hash agg → total-order sort of the (small)
    aggregate → limit. Ties broken by key for determinism."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(key))
        .limit(k)
    )


def top_k_per_group(df: DataFrame, group: str, key: str, k: int) -> DataFrame:
    """A5 per-group top-k: count per (group,key) then ``row_number`` over a
    window partitioned by group — no global sort; each group sorts its own
    (already aggregated, small) slice. Deterministic tie-break on key."""
    counts = df.groupBy(group, key).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(group).orderBy(F.desc("n"), F.asc(key))
    return counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def dedup_latest(df: DataFrame, key: str, order_col: str, tiebreak: str | None = None) -> DataFrame:
    """A6 dedup-by-url: keep the LATEST row per key (CC re-crawl rule).

    ``row_number`` over (key → desc order_col) — deterministic, unlike
    ``dropDuplicates`` which keeps an arbitrary row. One shuffle on key.
    SPEC: ties on order_col break by ascending ``tiebreak`` (or the key
    itself), pinning a total order.
    """
    order = [F.desc(order_col), F.asc(tiebreak or key)]
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def rollup_counts(df: DataFrame, *keys: str) -> DataFrame:
    """A9: hierarchical subtotals — free in Spark (one pass, expand +
    hash agg). ``cube`` / GROUPING SETS are the same call shape."""
    return df.rollup(*keys).agg(F.count(F.lit(1)).alias("n"))


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: events of one `key` closer than
    `gap_seconds` belong to one session.

    Classic lag + cumulative-sum formulation — entirely JVM window
    functions, ONE shuffle on `key`, no Python and no stateful UDF.
    Returns one row per session: (key, session_start, session_end,
    n_events). Deterministic total order via the tiebreak column for
    equal timestamps.

    SPEC (boundary-inclusive, matching Spark's ``session_window`` which
    merges touching [t, t+gap) windows): two events exactly
    ``gap_seconds`` apart belong to the SAME session; a new session
    starts only when the gap is STRICTLY greater. ``session_end`` here is
    max(ts); a ``session_window`` end is last_ts + gap.
    """
    order = [F.asc(ts_col)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    ts = F.col(ts_col).cast("timestamp")
    prev = F.lag(ts).over(w)
    new_sess = F.when(
        prev.isNull() | (ts.cast("long") - prev.cast("long") > gap_seconds), 1
    ).otherwise(0)
    with_id = df.withColumn("_new", new_sess).withColumn(
        "_sess", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_id.groupBy(key, "_sess")
        .agg(
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumnRenamed("_sess", "session_id")
    )
