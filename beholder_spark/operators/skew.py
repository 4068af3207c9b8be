"""Explicit skew handling (SURVEY.md §2.7 A10; BASELINE.json:14
"partitioning / shuffle / skew handled explicitly").

Web-page hosts and languages are Zipf-distributed: the hottest host can
own a double-digit percent of all rows, so a naive groupBy(host) puts
that host's entire 100-TB-scale slice on ONE reducer. Two mitigations,
both deterministic (no rand() — reruns must produce identical plans):

1. ``salted_count`` — two-phase aggregation: partial count on
   (key, salt = pmod(xxhash64(fine_grain_col), S)), then final sum on key.
   The first shuffle spreads each hot key over S reducers; the second
   shuffle moves only S rows per key.
2. AQE skew-join splitting is enabled in the session factory for the
   join side of the problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_salt(df: DataFrame, from_col: str, buckets: int = 32, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt from a fine-grained column (e.g. url within
    host): pmod(xxhash64(col), buckets). Never rand() — lineage and
    resume need stable partition assignment."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col(from_col)), F.lit(buckets)))


def salted_count(df: DataFrame, keys: list[str], salt_from: str, buckets: int = 32) -> DataFrame:
    """Two-phase salted count-by-key, result identical to plain
    ``groupBy(keys).count()`` (the oracle checks exactly that).

    Phase 1 shuffle key = (keys, salt) → at most `buckets` partial rows
    per hot key; phase 2 aggregates those partials — skew bounded by
    construction. Spark's own partial aggregation already map-combines,
    but a hot key still lands on one reducer for the FINAL aggregate;
    salting bounds that reducer's input to `buckets` rows per key.
    """
    salted = add_salt(df, salt_from, buckets)
    partial = salted.groupBy(*keys, "_salt").agg(F.count(F.lit(1)).alias("_pn"))
    return partial.groupBy(*keys).agg(F.sum("_pn").cast("long").alias("n"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof shuffle join, result identical to ``big.join(small, on)``.

    The big side salts deterministically from a fine-grained column; the
    small side replicates ×`buckets` (explode of a literal range — no
    shuffle, just fan-out). Joining on (keys, salt) spreads each hot key
    over `buckets` reducers instead of one. Use when the small side is too
    big to broadcast but the big side's keys are Zipf-hot; cost = small
    side shuffled ×buckets — bounded and chosen, unlike the unbounded
    single-reducer stall it replaces. (AQE's skew-join split is the
    automatic variant; this is the explicit, plan-stable one.)
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # right/full outer would emit each unmatched small-side row once
        # PER SALT (it was replicated ×buckets) — not equal to the plain
        # join. Those shapes need the plain join (+ AQE skew split).
        raise ValueError(f"salted_join supports inner/left joins only, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    big_s = add_salt(big, salt_from, buckets)
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(buckets)]))
    )
    return big_s.join(small_s, [*keys, "_salt"], how).drop("_salt")
