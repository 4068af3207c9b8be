"""Deterministic sampling — the 100-TB-safe alternative to rand().

``df.sample()`` draws from a per-task RNG: reruns, retried tasks, and
resumed partitions all see different rows, which breaks lineage/resume
and makes oracle checks impossible. Hash-based sampling decides per ROW
from a stable key, so the same row is always in or out:

    keep  ⇔  md5(key) < threshold(rate)

md5 (not xxhash64) so the DuckDB oracle reproduces the decision
bit-for-bit; the hex comparison is uniform over the 128-bit space. The
predicate is a plain column expression — it pushes into scans, survives
AQE re-planning, and costs one hash per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8  # compare on the first 8 hex chars: 32-bit granularity

# NULL keys hash under a sentinel (md5(NULL) is NULL, and a NULL
# comparison would silently exclude the row from BOTH sides of a split —
# same '__NULL__' convention as plans/lineage.py's manifest key)
NULL_KEY = "__NULL__"


def _key_hash(key: str) -> Column:
    return F.substring(
        F.md5(F.coalesce(F.col(key).cast("string"), F.lit(NULL_KEY))), 1, 8
    )


def _threshold_hex(rate: float) -> str:
    """8-hex-digit string h such that P(md5 prefix < h) ≈ rate.

    rate=1.0 returns "g": every hex string sorts below it ('f' < 'g'),
    so the keep-all case needs no 9-digit carry special-casing.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    n = int(rate * _HEX_SPACE)
    return "g" if n >= _HEX_SPACE else format(n, "08x")


def sample_hash(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Keep a deterministic ~`rate` fraction of rows by key hash.

    Same key → same decision on every run, executor, and engine; disjoint
    rate brackets give disjoint samples (rate=0.1 ⊂ rate=0.2 — nested
    samples for train/val splits come free from the same hash). NULL keys
    hash under the sentinel, so they share one decision (kept at any rate
    where md5('__NULL__') prefix < threshold) rather than vanishing.
    """
    return df.filter(_key_hash(key) < _threshold_hex(rate))


def sample_stratified(df: DataFrame, key: str, strata_col: str, rates: dict[str, float], default_rate: float = 0.0) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample 'en', keep all
    low-resource langs): the rate map compiles to a CASE WHEN literal —
    no join, no Python, one hash per row."""
    thr: Column = F.lit(_threshold_hex(default_rate))
    for value, rate in rates.items():
        thr = F.when(F.col(strata_col) == value, F.lit(_threshold_hex(rate))).otherwise(thr)
    return df.filter(_key_hash(key) < thr)
