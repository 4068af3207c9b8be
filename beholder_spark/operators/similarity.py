"""Similarity search over embedding columns (array<float>).

Vectors are quantized to int (round(x*1000)) so dot products are exact
integer arithmetic → the DuckDB oracle matches bit-for-bit, and the JVM
does the math (zip_with + aggregate, no Python).

- ``cosine_topk`` — brute-force exact top-k neighbors per query.
- ``cosine_near_dup_pairs`` — brute-force near-duplicate pairs, the
  correctness baseline of the scale path below.
- ``lsh_near_dup_pairs`` — the scale path: integer sign-LSH buckets
  candidates first, exact rerank only within buckets. At 10^9 vectors
  the brute force is O(n²); LSH makes candidate generation a bucket-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUANT = 1000  # fixed-point scale for deterministic integer dot products


def quantize(col: Column) -> Column:
    """array<float> → array<long> fixed-point (deterministic both engines:
    round-half-away-from-zero on identical doubles)."""
    return F.transform(col, lambda x: F.round(x * QUANT, 0).cast("long"))


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x)


def _int_norm2(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x)


def cosine_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_max: int,
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors for queries (id < query_ids_max).

    Broadcast the (small) query set against all vectors — the big side
    never shuffles for the join; only the per-query top-k window shuffles
    (q_id, candidate) rows. Ties break on neighbor id ascending.
    """
    from pyspark.sql import Window

    q = vectors.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("qid"), quantize(F.col(vec_col)).alias("qv")
    )
    c = vectors.select(F.col(id_col).alias("nid"), quantize(F.col(vec_col)).alias("cv"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("nid") != F.col("qid"))
    scored = pairs.select(
        "qid",
        "nid",
        F.round(
            _int_dot(F.col("qv"), F.col("cv"))
            / (F.sqrt(_int_norm2(F.col("qv"))) * F.sqrt(_int_norm2(F.col("cv")))),
            4,
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "cosine", "rank")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a < b) with cosine ≥ threshold.

    The dedup twin of :func:`cosine_topk` — same quantized-int arithmetic
    so the DuckDB oracle matches exactly. Shape: broadcast self-join —
    O(n²) comparisons, the CORRECTNESS BASELINE only. The scale path is
    :func:`lsh_near_dup_pairs` (bucketed candidates, exact rerank), which
    this function serves as the recall oracle for.
    """
    a = vectors.select(F.col(id_col).alias("doc_a"), quantize(F.col(vec_col)).alias("va"))
    b = vectors.select(F.col(id_col).alias("doc_b"), quantize(F.col(vec_col)).alias("vb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("doc_a") < F.col("doc_b"))
    scored = pairs.select(
        "doc_a",
        "doc_b",
        F.round(
            _int_dot(F.col("va"), F.col("vb"))
            / (F.sqrt(_int_norm2(F.col("va"))) * F.sqrt(_int_norm2(F.col("vb")))),
            4,
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def _det_int_planes(n: int, dim: int, tag: str = "iplane") -> list[list[int]]:
    """Deterministic INTEGER-entry hyperplanes: entry d of plane p is
    ``2*nibble − 15`` (odd, never zero) where nibble = hex digit
    ``d % 32`` of ``md5(f"{tag}:{p}:{d // 32}")``. Integer entries ×
    quantized vectors give EXACT integer dot products, so the sign bit is
    independent of accumulation order — DuckDB reproduces every bucket
    bit-for-bit (float planes would risk a sign flip near dot≈0 from
    engine-specific summation order)."""
    import hashlib

    out = []
    for p in range(n):
        vals: list[int] = []
        for d in range(dim):
            h = hashlib.md5(f"{tag}:{p}:{d // 32}".encode()).hexdigest()
            vals.append(2 * int(h[d % 32], 16) - 15)
        out.append(vals)
    return out


def lsh_near_dup_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.42,
    n_tables: int = 16,
    planes_per_table: int = 4,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SCALE-SAFE embedding near-dup pairs: multi-table sign-LSH bucket
    SELF-join generates candidates, exact quantized-int rerank keeps
    (doc_a < doc_b) with cosine ≥ threshold. Replaces the O(n²)
    :func:`cosine_near_dup_pairs` at corpus scale: shuffle is keyed on
    (table, bucket), pairs per bucket are bounded by ``max_bucket_size``
    (deterministic lowest-ids-kept cap, same semantics as
    ``dedup._cap_buckets``), and the rerank joins vectors back BY ID —
    work ∝ candidates, never O(n²).

    Precision is 1.0 by construction (the rerank is exact); recall < 1
    is the LSH trade — measured vs :func:`cosine_near_dup_pairs` in
    tests/test_dedup_similarity.py with an asserted floor. Buckets come
    from :func:`_det_int_planes`, i.e. exact integer sign bits — the
    whole pipeline is engine-reproducible, so unlike most ANN ops this
    one has a FULL DuckDB oracle (bucketing included), not a rows-only
    check.
    """
    from pyspark.sql import Window

    planes = _det_int_planes(n_tables * planes_per_table, dim)
    qv = vectors.select(F.col(id_col), quantize(F.col(vec_col)).alias("qv"))

    def table_buckets(vc: Column) -> Column:
        tables = []
        for t in range(n_tables):
            acc = F.lit(0)
            for j in range(planes_per_table):
                p = planes[t * planes_per_table + j]
                arr = F.array(*[F.lit(v) for v in p])
                dot = F.aggregate(
                    F.zip_with(vc, arr, lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
                acc = acc + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
            tables.append(F.struct(F.lit(t).alias("t"), acc.alias("bucket")))
        return F.array(*tables)

    vb = qv.withColumn("tb", table_buckets(F.col("qv")))
    bb = vb.select(F.col(id_col), F.explode("tb").alias("b")).select(
        id_col, F.col("b.t").alias("band"), F.col("b.bucket").alias("bucket")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket").orderBy(F.col(id_col))
        bb = (
            bb.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    a = bb.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = bb.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()  # a pair colliding in several tables reranks once
    )
    va = qv.select(F.col(id_col).alias("doc_a"), F.col("qv").alias("va"))
    vbv = qv.select(F.col(id_col).alias("doc_b"), F.col("qv").alias("vb"))
    scored = (
        cand.join(va, "doc_a")
        .join(vbv, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                _int_dot(F.col("va"), F.col("vb"))
                / (F.sqrt(_int_norm2(F.col("va"))) * F.sqrt(_int_norm2(F.col("vb")))),
                4,
            ).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)
