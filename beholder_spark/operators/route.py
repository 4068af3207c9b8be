"""Routing — ``switch / case / default`` (SURVEY.md §2.4 R1-R3).

Beholder routes each message through the first matching ``case`` block.
Spark-first design: ONE projection computes a ``route`` column as an
ordered ``when()`` chain (first-match-wins is the chain order), then the
fan-out is a single :func:`beholder_spark.sinks.write_table` partitioned
by ``route``. The router itself never shuffles.

SPEC no-match (R3 — reference default unverifiable): rows matching no
case get route ``'_unmatched'`` and are written to a quarantine sink and
counted in lineage metrics — never silently dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNMATCHED = "_unmatched"


def route_expr(cases: list[tuple[Column, str]], default: str = UNMATCHED) -> Column:
    """Ordered (condition, route_name) pairs → first-match-wins route col."""
    expr = None
    for cond, name in cases:
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return F.lit(default) if expr is None else expr.otherwise(F.lit(default))


def switch(df: DataFrame, cases: list[tuple[Column, str]], route_col: str = "route", default: str = UNMATCHED) -> DataFrame:
    """R1 ``switch { case ... }``: attach the route column."""
    return df.withColumn(route_col, route_expr(cases, default))


def case_capture(df: DataFrame, col: str, pattern: str, groups: dict[str, int], route_col: str = "route", route_value: str | None = None) -> DataFrame:
    """R2: a matching case also extracts named groups into fields.

    Extraction applies only on the matched route's rows (others NULL) —
    same semantics as Beholder running the capture inside the case block.
    """
    matched = F.lit(True) if route_value is None else (F.col(route_col) == route_value)
    out = df
    for name, idx in groups.items():
        out = out.withColumn(
            name,
            F.when(matched, F.regexp_extract(F.col(col), pattern, idx)).otherwise(F.lit(None)),
        )
    return out
