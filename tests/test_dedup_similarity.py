"""Dedup sketches + similarity search behavior tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from beholder_spark.operators import dedup, similarity
from beholder_spark.operators.aggregate import dedup_latest


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, "completely different words about spark pipelines and shuffles here"),
        (4, base),  # exact dup of 1
        (5, "short text"),  # shorter than shingle width → no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_near_dups(spark):
    pairs = dedup.minhash_candidate_pairs(_docs(spark), "doc_id", "text", shingle_n=3)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 4) in got  # exact dup always collides
    assert (1, 2) in got  # near-dup shares band
    assert not any(3 in p for p in got)  # unrelated doc never pairs


def test_ngram_jaccard_values(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", shingle_n=3, threshold=0.3)
    by = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert by[(1, 4)] == 1.0
    assert 0.3 <= by[(1, 2)] < 1.0


def test_simhash_near_dups_close(spark):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(_docs(spark), "doc_id", "text", bits=16).collect()}
    ham_dup = bin(sh[1] ^ sh[2]).count("1")
    ham_diff = bin(sh[1] ^ sh[3]).count("1")
    assert sh[1] == sh[4]  # exact dup → identical simhash
    assert ham_dup <= ham_diff  # near-dup at least as close as unrelated


def test_short_doc_has_no_shingles(spark):
    sh = dedup.word_shingles(_docs(spark), "doc_id", "text", n=3)
    assert sh.filter(F.col("doc_id") == 5).count() == 0


def test_cosine_topk_self_structure(spark):
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [1.0, 0.05, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(df, "vec_id", "embedding", query_ids_max=1, k=3)
    ranked = [r.nid for r in sorted(out.collect(), key=lambda r: r.rank)]
    assert ranked[0] == 3 and ranked[1] == 1 and ranked[2] == 2
    top = out.filter(F.col("rank") == 1).first()
    assert abs(top.cosine - 1 / math.sqrt(1 + 0.05**2)) < 1e-3


def test_dedup_latest_deterministic(spark):
    rows = [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-02 00:00:00", "b"),
            (2, "2024-01-01 00:00:00", "c")]
    df = spark.createDataFrame(rows, ["k", "ts", "v"]).withColumn("ts", F.to_timestamp("ts"))
    out = {r.k: r.v for r in dedup_latest(df, "k", "ts", tiebreak="v").collect()}
    assert out == {1: "b", 2: "c"}


def test_sample_hash_deterministic_nested_and_split(spark):
    from beholder_spark.operators.sample import sample_hash

    df = spark.range(5000).withColumnRenamed("id", "k")
    s10 = {r.k for r in sample_hash(df, "k", 0.1).collect()}
    s20 = {r.k for r in sample_hash(df, "k", 0.2).collect()}
    assert s10 == {r.k for r in sample_hash(df, "k", 0.1).collect()}  # deterministic
    assert s10 <= s20  # nested brackets from the same hash
    assert 0.05 < len(s10) / 5000 < 0.15 and 0.15 < len(s20) / 5000 < 0.25

    # NULL keys hash under the sentinel: at rate=1.0 every row (incl. the
    # NULL key) is kept
    nulls = spark.createDataFrame([(None,), ("a",), ("b",)], ["k"])
    assert sample_hash(nulls, "k", 1.0).count() == 3


def test_minhash_bucket_cap_bounds_boilerplate_pairs(spark):
    """Skewed-boilerplate corpus: many docs with IDENTICAL text collapse
    into one LSH bucket per band. Uncapped that is O(n²) pairs on one
    key; with max_bucket_size=cap the pair count is bounded by
    bands · cap·(cap−1)/2 and deterministic (lowest ids kept)."""
    n = 40
    boiler = [(i, "same boilerplate navigation header text repeated forever and ever") for i in range(n)]
    df = spark.createDataFrame(boiler, ["doc_id", "text"])

    uncapped = dedup.minhash_candidate_pairs(df, "doc_id", "text", max_bucket_size=None)
    assert uncapped.count() == n * (n - 1) // 2  # the explosion the cap prevents

    cap = 5
    capped = dedup.minhash_candidate_pairs(df, "doc_id", "text", max_bucket_size=cap)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert len(got) <= cap * (cap - 1) // 2  # identical docs → same buckets in every band
    # deterministic: the cap keeps the lowest doc_ids
    assert got == {(a, b) for a in range(cap) for b in range(cap) if a < b}


def test_jaccard_stop_shingle_filter_bounds_hot_join(spark):
    """A shingle shared by every doc is boilerplate: with max_doc_freq it
    is excluded from the shingle sets, so unrelated docs that share ONLY
    boilerplate no longer become candidate pairs."""
    boiler = "copyright two thousand twenty six all rights reserved"
    rows = [
        (1, f"unique alpha words one {boiler}"),
        (2, f"unique beta words two {boiler}"),
        (3, f"unique gamma words three {boiler}"),
        (4, f"unique delta words four {boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # shingle_n=5 spans the boilerplate tail shared by all 4 docs
    unfiltered = dedup.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=5, threshold=0.1, max_doc_freq=None)
    assert unfiltered.count() > 0  # boilerplate-only similarity
    filtered = dedup.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=5, threshold=0.1, max_doc_freq=3)
    assert filtered.count() == 0  # stop-shingles carry no signal


def test_simhash_width_parameter(spark):
    """simhash(bits=48) produces values beyond the 16-bit range and the
    same low-16-bit structure as simhash(bits=16) is NOT required
    (independent bits) — but determinism across calls is."""
    df = _docs(spark)
    a = {r.doc_id: r.simhash for r in dedup.simhash(df, "doc_id", "text", bits=48).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash(df, "doc_id", "text", bits=48).collect()}
    assert a == b  # deterministic
    assert any(v > 0xFFFF for v in a.values())  # actually uses the width
    assert a[1] == a[4]  # exact dup docs agree at any width


def test_lsh_near_dup_pairs_precision_and_recall(spark, sf_dir):
    """The scale-safe near-dup path (LSH bucket self-join + exact rerank)
    vs the O(n²) exact twin: precision must be EXACTLY 1.0 (the rerank is
    exact — every emitted pair truly clears the threshold) and recall
    carries an asserted floor (measured on this fixture; deterministic
    buckets, so drift means a code change). The cap must also bound bucket
    membership without breaking the subset property."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.42
    exact = {
        (r.doc_a, r.doc_b)
        for r in similarity.cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=thr).collect()
    }
    assert len(exact) > 0
    got = {
        (r.doc_a, r.doc_b)
        for r in similarity.lsh_near_dup_pairs(emb, "vec_id", "embedding", threshold=thr).collect()
    }
    assert got <= exact, "rerank is exact — a non-subset pair means broken arithmetic"
    recall = len(got) / len(exact)
    assert recall >= 0.8, f"LSH near-dup recall collapsed to {recall}"

    capped = {
        (r.doc_a, r.doc_b)
        for r in similarity.lsh_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=thr, max_bucket_size=10
        ).collect()
    }
    assert capped <= exact
    assert len(capped) <= len(got)  # the cap only ever removes candidates
