"""LM-data curation trio: n-gram perplexity scoring, exact repeated-
substring span removal, DSIR importance resampling.

The three corpus-shaping passes a web-scale pretraining pipeline runs
after filtering/dedup (public recipes: CCNet's LM-perplexity quality
screen, Lee et al. 2022 "Deduplicating Training Data Makes Language
Models Better" ExactSubstr, Xie et al. 2023 DSIR hashed-n-gram
importance resampling) — re-expressed as declarative Spark plans:

* The LM is TRAINED IN SPARK (two hash aggregates over the reference
  split), not loaded from a binary KenLM blob — the model *is* a
  DataFrame, so scoring is joins + one per-doc aggregate and the whole
  thing stays inside Catalyst (pushdown, AQE skew splitting, no Python).
* Everything is deterministic and md5-derived (repo invariant): the
  reference split, the DSIR feature buckets, and the resampling
  "randomness" (Gumbel keys from md5 uniforms) are all reproducible
  bit-for-bit by the DuckDB oracle — no rand(), no per-task RNG.
* Floats appear ONLY in ln/exp at the edge; every count is integer.
  Outputs round at 4 decimals (repo precedent for cross-engine float
  agreement: both engines compute ln of the SAME small rationals, and
  accumulation-order noise is ~1e-13 against a 1e-4 grid).

Scale notes (100 TB): the bigram LM and the k-gram frequency table are
Zipf-skewed equi-key aggregates/joins — AQE skew splitting applies; the
DSIR ratio table is exactly ``n_buckets`` rows and is broadcast
explicitly. No global single-partition stage anywhere: the resample
ranks within language partitions (per-lang quota), and the span-removal
coverage mask is a per-doc aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _toks(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _bigrams(text_col: str) -> Column:
    """array<struct<w1,w2>> of adjacent whitespace-token pairs (JVM-side:
    zip of two slices, zero Python, zero shuffle)."""
    toks = _toks(text_col)
    n = F.size(toks)
    heads = F.slice(toks, 1, n - 1)
    tails = F.slice(toks, 2, n - 1)
    return F.when(
        n >= 2, F.zip_with(heads, tails, lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _md5_bucket(col: Column, prefix: str, n_buckets: int) -> Column:
    """Deterministic feature bucket: first 4 md5 hex chars → int → mod.

    md5 (not xxhash64) so DuckDB reproduces the bucket bit-for-bit:
    ``('0x' || substr(md5(p || x), 1, 4))::BIGINT % B`` is the oracle twin.
    """
    h = F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 4)
    return (F.conv(h, 16, 10).cast("long") % n_buckets).alias("bucket")


def _md5_uniform(col: Column, prefix: str) -> Column:
    """Deterministic uniform in (0,1): first 6 md5 hex chars (24 bits),
    +0.5 so u is never exactly 0 or 1 (ln(-ln(u)) stays finite)."""
    h = F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 6)
    return (F.conv(h, 16, 10).cast("double") + F.lit(0.5)) / F.lit(float(16 ** 6))


# ---------------------------------------------------------------------------
# 1. n-gram LM perplexity scoring (CCNet-style quality screen)
# ---------------------------------------------------------------------------


def train_bigram_lm(
    ref: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train an add-one-smoothed bigram LM on a reference corpus —
    entirely in Spark: returns ``(bigram_counts, context_counts,
    vocab_size)`` DataFrames.

    * ``bigram_counts(w1, w2, c_bg)`` — corpus count of each adjacent pair
    * ``context_counts(w1, c_ctx)`` — count of each token as a context
      (= number of bigrams starting with it)
    * ``vocab_size(v)`` — one row: distinct tokens in the reference

    Two hash aggregates over an exploded bigram stream; the stream is
    built JVM-side (slice+zip, no Python). At 100 TB the bigram table is
    Zipf-skewed but the aggregate is equi-keyed (AQE handles the skew);
    the LM tables are reusable across scoring runs — persist/write them
    once, the train pass is threshold-independent.
    """
    bg = ref.select(F.explode(_bigrams(text_col)).alias("b")).select("b.w1", "b.w2")
    bigram_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    context_counts = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab_size = (
        ref.select(F.explode(_toks(text_col)).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return bigram_counts, context_counts, vocab_size


def score_perplexity(
    df: DataFrame,
    bigram_counts: DataFrame,
    context_counts: DataFrame,
    vocab_size: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy + perplexity under the trained bigram
    LM (Laplace add-one): p(w2|w1) = (c_bg+1)/(c_ctx+V); unseen bigrams
    and unseen contexts degrade smoothly (0-count path), never NULL out.

    Output: ``(id, n_bigrams, cross_entropy, ppl)``; docs with <2 tokens
    are excluded (no bigram evidence). cross_entropy = -mean ln p,
    rounded 4dp; ppl = exp(H) rounded 3dp.

    Plan shape: explode → two left equi-joins against the LM tables →
    one per-doc aggregate. ``vocab_size`` is one row — crossJoin'd, which
    Spark broadcasts for free. The heavy joins key on token strings
    (Zipf-skewed; AQE skew-join splits the 'the' partitions); when the
    LM is small Catalyst/AQE broadcasts it without being told.
    """
    scored = (
        df.filter(F.size(_toks(text_col)) >= 2)
        .select(F.col(id_col), F.explode(_bigrams(text_col)).alias("b"))
        .select(id_col, "b.w1", "b.w2")
        .join(bigram_counts, ["w1", "w2"], "left")
        .join(context_counts, ["w1"], "left")
        .crossJoin(F.broadcast(vocab_size))
    )
    lp = F.log(
        (F.coalesce(F.col("c_bg"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.col("v"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg(lp), 4).alias("cross_entropy"),
        F.round(F.exp(-F.avg(lp)), 3).alias("ppl"),
    )


def ppl_bucket_split(
    scored: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    ppl_col: str = "ppl",
) -> DataFrame:
    """CCNet head/middle/tail split: per stratum (language), documents are
    bucketed into the lowest-/middle-/highest-perplexity thirds — the
    split CCNet uses to stage quality-tiered training corpora.

    THRESHOLD-based, not rank-based: per-stratum tercile cutoffs come from
    one exact ``percentile`` aggregate (p·(n−1) linear interpolation —
    DuckDB's ``quantile_cont`` computes the identical formula, so the
    4dp-rounded cutoffs match bit-for-bit), then assignment is a broadcast
    join + codegen CASE.  A rank window partitioned by language would put
    ALL of 'en' in ONE task at 100 TB; thresholds keep the heavy side
    embarrassingly parallel.  Memory note: Spark's exact percentile holds
    a value→count map per stratum — bounded here because ``ppl`` lives on
    a 3dp grid, so distinct values ≪ rows.

    Docs whose ppl equals a cutoff land in the lower bucket on both
    engines (``<=`` on the shared 4dp grid).  Output:
    ``(id, stratum, ppl, ppl_bucket)``.
    """
    cuts = scored.groupBy(strata_col).agg(
        F.round(F.expr(f"percentile({ppl_col}, 1.0D/3.0D)"), 4).alias("c1"),
        F.round(F.expr(f"percentile({ppl_col}, 2.0D/3.0D)"), 4).alias("c2"),
    )
    return scored.join(F.broadcast(cuts), strata_col).select(
        id_col,
        strata_col,
        ppl_col,
        F.when(F.col(ppl_col) <= F.col("c1"), F.lit("head"))
        .when(F.col(ppl_col) <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# 2. exact repeated-substring span removal (ExactSubstr, Lee et al. 2022)
# ---------------------------------------------------------------------------


def kgrams_with_pos(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 8
) -> DataFrame:
    """(id, pos, gram_h) for every k-token window (1-based pos): the
    distributed stand-in for the suffix array — positions are JVM-built
    (sequence + slice + array_join), the gram travels as md5('s:'||gram)
    so the corpus-wide frequency shuffle moves 32 hex bytes, not text."""
    toks = _toks(text_col)
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.concat(F.lit("s:"), F.array_join(F.slice(toks, i, k), " "))).alias(
                "gram_h"
            ),
        ),
    )
    return df.select(F.col(id_col), F.explode(grams).alias("g")).select(
        id_col, "g.pos", "g.gram_h"
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style span removal: every k-token window whose exact
    text occurs ≥ ``min_count`` times CORPUS-WIDE (all occurrences, intra-
    and inter-document — the Lee et al. 2022 semantics: every copy of a
    duplicated span is removed) marks its k positions covered; surviving
    tokens are re-joined in order.

    Output: ``(id, n_tokens, n_removed, text_clean)`` — all integers and
    strings, hash-exact on any engine.

    Plan shape (suffix-array-free, Spark-native): one k-gram explode →
    one count aggregate on the 32-hex gram key → semi-shaped join back →
    per-doc collect_set of covered positions → JVM filter of the token
    array (2-arg ``F.filter`` lambda gets (element, 0-based index)). The
    coverage mask is an array_contains probe per token — O(n·m) per doc
    with m = covered positions; bounded by doc length, no Python. At
    100 TB: both shuffles key on gram_h/doc id (equi-keyed, AQE-skew-
    safe); doc text is NOT shuffled — the heavy join moves (id, pos)
    pairs only and text re-enters via the final per-doc join.
    """
    grams = kgrams_with_pos(df, id_col, text_col, k)
    dup = (
        grams.groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gram_h")
    )
    covered = (
        grams.join(dup, "gram_h")
        .select(id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cpos"))
        .groupBy(id_col)
        .agg(F.collect_set("cpos").alias("covered"))
    )
    out = df.join(covered, id_col, "left")
    toks = _toks(text_col)
    cov = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    kept = F.filter(toks, lambda w, i: ~F.array_contains(cov, (i + F.lit(1)).cast("int")))
    return out.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        (F.size(toks) - F.size(kept)).alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# 3. DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


def dsir_features(
    df: DataFrame, id_col: str, text_col: str = "text", n_buckets: int = 64
) -> DataFrame:
    """(id, bucket) per hashed-n-gram feature OCCURRENCE: unigrams +
    adjacent bigrams, md5-bucketed ('u:'/'b:' domain prefixes keep the
    two feature families independent). One explode, zero shuffle."""
    uni = df.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("f")
    ).select(id_col, _md5_bucket(F.col("f"), "u:", n_buckets))
    bi = df.select(F.col(id_col), F.explode(_bigrams(text_col)).alias("b")).select(
        id_col,
        _md5_bucket(F.concat(F.col("b.w1"), F.lit(" "), F.col("b.w2")), "b:", n_buckets),
    )
    return uni.unionByName(bi)


def dsir_log_ratios(
    target_feats: DataFrame, raw_feats: DataFrame, n_buckets: int = 64, alpha: float = 0.5
) -> DataFrame:
    """Per-bucket importance log-ratio λ_b = ln p̂_target(b) − ln p̂_raw(b)
    with add-α smoothing — exactly ``n_buckets`` rows, built on a dense
    bucket spine (sequence 0..B-1) so empty buckets still smooth instead
    of vanishing. Integer counts in, one ln per side out."""
    spine = (
        target_feats.sparkSession.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("bucket"))
    )
    t = target_feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("t_b"))
    r = raw_feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("r_b"))
    # totals from the ≤B-row bucket tables, not two more full passes;
    # integer counts, so the sums are exact (coalesce: an empty side is 0)
    tot_t = t.agg(F.coalesce(F.sum("t_b"), F.lit(0)).alias("t_tot"))
    tot_r = r.agg(F.coalesce(F.sum("r_b"), F.lit(0)).alias("r_tot"))
    ab = alpha * n_buckets
    return (
        spine.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("t_b"), F.lit(0)) + F.lit(alpha)) / (F.col("t_tot") + F.lit(ab)))
                - F.log((F.coalesce(F.col("r_b"), F.lit(0)) + F.lit(alpha)) / (F.col("r_tot") + F.lit(ab)))
            ).alias("lam"),
        )
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    n_buckets: int = 64,
    quota: float = 0.25,
) -> DataFrame:
    """DSIR: importance weight per doc = Σ λ_bucket over its hashed
    n-gram features; then Gumbel-top-k resampling WITHOUT a random
    source — the Gumbel noise comes from an md5 uniform on the doc id
    (g = logw + (−ln(−ln u))), which IS sampling ∝ exp(logw) (the
    Gumbel-max trick) yet is bit-reproducible by the oracle.

    Selection is a per-stratum quota (top ``quota`` fraction per
    ``strata_col`` by Gumbel key, ties → id): the rank window partitions
    by stratum, so there is NO single-partition global sort — at 100 TB
    each language ranks independently (per-lang budget, the "balanced
    DSIR" variant; a global quota would instead use a sampled threshold).

    Output: ``(id, stratum, n_feats, logw, gumbel, selected)`` — logw and
    gumbel rounded 4dp; the rank orders by the ROUNDED key so both
    engines rank identical values, ties broken by id.

    Plan shape: feature explode → broadcast join against the B-row λ
    table → per-doc sum → one windowed rank per stratum. The only wide
    exchanges key on doc id and stratum.
    """
    feats = dsir_features(df, id_col, text_col, n_buckets)
    lam = dsir_log_ratios(dsir_features(target, id_col, text_col, n_buckets), feats, n_buckets)
    weights = (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lam"), 4).alias("logw"),
        )
    )
    u = _md5_uniform(F.col(id_col), "g:")
    keyed = df.select(id_col, strata_col).join(weights, id_col).withColumn(
        "gumbel", F.round(F.col("logw") - F.log(-F.log(u)), 4)
    )
    w = Window.partitionBy(strata_col).orderBy(F.col("gumbel").desc(), F.col(id_col))
    n_in_stratum = F.count(F.lit(1)).over(Window.partitionBy(strata_col))
    return keyed.select(
        id_col,
        strata_col,
        "n_feats",
        "logw",
        "gumbel",
        (F.row_number().over(w) <= F.ceil(n_in_stratum * F.lit(quota))).alias("selected"),
    )
