"""LM-data curation trio (operators/lmdata.py).

Covers what the DuckDB oracle twin can't prove: hand-computed goldens
against an INDEPENDENT pure-Python reimplementation of each algorithm
(Laplace bigram LM, ExactSubstr coverage, DSIR hashed-feature weights),
the smoothing edge cases (unseen bigram / unseen context / closed
single-token loop), full-document span removal, intra-document span
duplication, per-stratum quota arithmetic, and the plan shapes (the λ
table joins broadcast; the rank window is stratum-partitioned, never a
single global partition).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from beholder_spark.operators import lmdata


def _by_id(df, *cols):
    return {r[0]: tuple(r)[1:] for r in df.select(*cols).collect()}


# ---------------------------------------------------------------------------
# perplexity
# ---------------------------------------------------------------------------


def _py_bigram_scorer(ref_texts: list[str]):
    """Independent reference: train an add-one bigram LM once, return a
    text -> (n_bigrams, unrounded cross-entropy) scorer."""
    cb: dict[tuple[str, str], int] = {}
    cc: dict[str, int] = {}
    vocab: set[str] = set()
    for t in ref_texts:
        toks = t.split(" ")
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
            cc[a] = cc.get(a, 0) + 1
    v = len(vocab)

    def ce(text: str) -> tuple[int, float]:
        toks = text.split(" ")
        lps = [
            math.log((cb.get((a, b), 0) + 1) / (cc.get(a, 0) + v))
            for a, b in zip(toks, toks[1:])
        ]
        return len(lps), -sum(lps) / len(lps)

    return ce


def test_perplexity_matches_python_reference(spark):
    ref_texts = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "a cat and a dog",
    ]
    score_texts = ref_texts + [
        "the cat sat on the rug",   # mixes seen bigrams
        "zebra quark zebra quark",  # fully OOV: unseen contexts AND bigrams
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(score_texts)], "doc_id long, text string"
    )
    cb, cc, vs = lmdata.train_bigram_lm(ref, "text")
    out = _by_id(
        lmdata.score_perplexity(docs, cb, cc, vs, "doc_id", "text"),
        "doc_id", "n_bigrams", "cross_entropy", "ppl",
    )
    assert set(out) == set(range(len(score_texts)))
    ce_of = _py_bigram_scorer(ref_texts)
    for i, t in enumerate(score_texts):
        n, ce = ce_of(t)
        got_n, got_ce, got_ppl = out[i]
        assert got_n == n
        assert got_ce == round(ce, 4)
        assert got_ppl == round(math.exp(ce), 3)
    # the fully-OOV doc must score WORSE than an in-domain one
    assert out[4][1] > out[0][1]


def test_perplexity_closed_loop_is_certain(spark):
    # single-doc corpus "a a a": p(a|a) = (2+1)/(2+1) = 1 → H=0, ppl=1
    d = spark.createDataFrame([(0, "a a a")], "doc_id long, text string")
    cb, cc, vs = lmdata.train_bigram_lm(d, "text")
    row = lmdata.score_perplexity(d, cb, cc, vs).collect()[0]
    assert (row.n_bigrams, row.cross_entropy, row.ppl) == (2, 0.0, 1.0)


def test_perplexity_excludes_sub_bigram_docs(spark):
    d = spark.createDataFrame(
        [(0, "solo"), (1, "two tokens")], "doc_id long, text string"
    )
    cb, cc, vs = lmdata.train_bigram_lm(d, "text")
    out = _by_id(lmdata.score_perplexity(d, cb, cc, vs), "doc_id", "n_bigrams")
    assert set(out) == {1}  # the 1-token doc has no bigram evidence


def _py_tercile_cuts(vals: list[float]) -> tuple[float, float]:
    """Independent reference: continuous quantile, p·(n−1) interpolation
    (the formula both Spark ``percentile`` and DuckDB ``quantile_cont``
    implement), before the 4dp rounding."""
    s = sorted(vals)

    def q(p: float) -> float:
        pos = p * (len(s) - 1)
        lo = int(math.floor(pos))
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    return q(1.0 / 3), q(2.0 / 3)


def test_ppl_bucket_split_matches_python_reference(spark):
    ppls = {
        "en": {0: 3.2, 1: 8.1, 2: 1.5, 3: 12.9, 4: 5.5, 5: 7.7, 6: 2.2},
        "de": {10: 4.4, 11: 9.9, 12: 4.4},  # tie ON a cutoff → lower bucket
        "fr": {20: 6.0},                    # singleton stratum → head
    }
    rows = [(i, lang, p) for lang, m in ppls.items() for i, p in m.items()]
    scored = spark.createDataFrame(rows, "doc_id long, lang string, ppl double")
    out = _by_id(
        lmdata.ppl_bucket_split(scored, "lang", "doc_id", "ppl"),
        "doc_id", "lang", "ppl", "ppl_bucket",
    )
    assert set(out) == {i for m in ppls.values() for i in m}
    for lang, m in ppls.items():
        c1, c2 = (round(c, 4) for c in _py_tercile_cuts(list(m.values())))
        for i, p in m.items():
            want = "head" if p <= c1 else ("middle" if p <= c2 else "tail")
            assert out[i] == (lang, p, want), (i, c1, c2)
    # buckets are ordered: every head ppl <= every middle <= every tail
    by_lang_bucket: dict[tuple[str, str], list[float]] = {}
    for lang, p, b in out.values():
        by_lang_bucket.setdefault((lang, b), []).append(p)
    for lang in ppls:
        h = by_lang_bucket.get((lang, "head"), [])
        m_ = by_lang_bucket.get((lang, "middle"), [])
        t = by_lang_bucket.get((lang, "tail"), [])
        if h and m_:
            assert max(h) <= min(m_)
        if m_ and t:
            assert max(m_) <= min(t)
    # the singleton stratum degenerates to head (c1 = c2 = its own ppl)
    assert out[20] == ("fr", 6.0, "head")


def test_ppl_bucket_split_plan_has_no_window(spark):
    # the split must be threshold-based: a rank window PARTITION BY lang
    # would single-task each language at scale — assert it never appears,
    # and that the 1-row-per-lang cutoff table joins broadcast
    scored = spark.range(0, 90).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        (F.col("id") % 13).cast("double").alias("ppl"),
    )
    out = lmdata.ppl_bucket_split(scored, "lang", "doc_id", "ppl")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# repeated-span removal
# ---------------------------------------------------------------------------


def _py_remove_spans(texts: dict[int, str], k: int, min_count: int):
    """Independent reference: corpus k-gram counts → coverage → filter."""
    grams: dict[str, int] = {}
    toks = {i: t.split(" ") for i, t in texts.items()}
    for ts in toks.values():
        for i in range(len(ts) - k + 1):
            g = " ".join(ts[i : i + k])
            grams[g] = grams.get(g, 0) + 1
    out = {}
    for i, ts in toks.items():
        covered = set()
        for p in range(len(ts) - k + 1):
            if grams[" ".join(ts[p : p + k])] >= min_count:
                covered.update(range(p, p + k))
        kept = [w for j, w in enumerate(ts) if j not in covered]
        out[i] = (len(ts), len(ts) - len(kept), " ".join(kept))
    return out


def test_span_removal_matches_python_reference(spark):
    texts = {
        0: "x y z q r s t u v",          # unique — untouched
        1: "a b c d e f g h tail one",   # shares the 8-gram a..h with doc 2
        2: "head a b c d e f g h",
        3: "p q p q p q p q p q",        # intra-doc repeated 8-grams
        4: "m n o m n o",                # too short for k=8 — untouched
    }
    d = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = _by_id(
        lmdata.remove_repeated_spans(d, "doc_id", "text", k=8, min_count=2),
        "doc_id", "n_tokens", "n_removed", "text_clean",
    )
    assert out == _py_remove_spans(texts, 8, 2)
    # the cross-doc duplicated span is excised from BOTH docs (ExactSubstr
    # removes every copy), leaving only the non-shared fringes
    assert out[1] == (10, 8, "tail one")
    assert out[2] == (9, 8, "head")
    # intra-doc repetition covers the whole doc → empty survivor
    assert out[3] == (10, 10, "")
    assert out[0][1] == 0 and out[4][1] == 0


def test_span_removal_small_k_partial_overlap(spark):
    # k=2: "b c" appears in docs 0+1; coverage is positionally exact
    texts = {0: "a b c d", 1: "z b c", 2: "q r"}
    d = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = _by_id(
        lmdata.remove_repeated_spans(d, "doc_id", "text", k=2, min_count=2),
        "doc_id", "n_tokens", "n_removed", "text_clean",
    )
    assert out == _py_remove_spans(texts, 2, 2)
    assert out[0] == (4, 2, "a d")
    assert out[1] == (3, 2, "z")
    assert out[2] == (2, 0, "q r")


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------


def _py_bucket(prefix: str, s: str, b: int) -> int:
    return int(hashlib.md5((prefix + s).encode()).hexdigest()[:4], 16) % b


def _py_dsir_logw(texts: dict[int, str], target_ids: set[int], b: int, alpha: float):
    """Independent reference: id -> (n_feats, unrounded Σ λ)."""
    feats: dict[int, list[int]] = {}
    for i, t in texts.items():
        toks = t.split(" ")
        f = [_py_bucket("u:", w, b) for w in toks]
        f += [_py_bucket("b:", f"{a} {c}", b) for a, c in zip(toks, toks[1:])]
        feats[i] = f
    tb = [0] * b
    rb = [0] * b
    for i, fs in feats.items():
        for x in fs:
            rb[x] += 1
            if i in target_ids:
                tb[x] += 1
    t_tot, r_tot = sum(tb), sum(rb)
    lam = [
        math.log((tb[x] + alpha) / (t_tot + alpha * b))
        - math.log((rb[x] + alpha) / (r_tot + alpha * b))
        for x in range(b)
    ]
    return {i: (len(fs), sum(lam[x] for x in fs)) for i, fs in feats.items()}


def test_dsir_weights_match_python_reference(spark):
    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "der schnelle braune fuchs springt",
        2: "the lazy dog sleeps all day",
        3: "la vie est belle aujourd hui",
    }
    langs = {0: "en", 1: "de", 2: "en", 3: "fr"}
    d = spark.createDataFrame(
        [(i, langs[i], t) for i, t in texts.items()],
        "doc_id long, lang string, text string",
    )
    out = _by_id(
        lmdata.dsir_resample(d, d.filter(F.col("lang") == "en"), quota=0.5),
        "doc_id", "n_feats", "logw",
    )
    ref = {i: (n, round(w, 4)) for i, (n, w) in _py_dsir_logw(texts, {0, 2}, 64, 0.5).items()}
    assert out == ref
    # English docs must out-weigh the non-English ones under an en target
    assert min(out[0][1], out[2][1]) > max(out[1][1], out[3][1])


def test_dsir_per_stratum_quota_and_determinism(spark):
    d = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("word"), (F.col("id") % 7).cast("string"), F.lit(" tail")).alias("text"),
    )
    out = lmdata.dsir_resample(d, d.filter(F.col("lang") == "en"), quota=0.25)
    per = {
        r.lang: (r.n, r.sel)
        for r in out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("selected").cast("int")).alias("sel"))
        .collect()
    }
    for lang, (n, sel) in per.items():
        assert sel == math.ceil(n * 0.25), lang
    # deterministic: a second independent evaluation selects the same ids
    a = sorted(r.doc_id for r in out.filter("selected").collect())
    b = sorted(
        r.doc_id
        for r in lmdata.dsir_resample(d, d.filter(F.col("lang") == "en"), quota=0.25)
        .filter("selected")
        .collect()
    )
    assert a == b and len(a) > 0


def test_dsir_plan_broadcasts_lambda_and_partitions_window(spark):
    # lang must be NON-constant: a literal stratum would be constant-folded
    # out of the window partition spec, degenerating it to a global sort
    d = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.lit("a b c").alias("text"),
    )
    out = lmdata.dsir_resample(d, d.filter(F.col("lang") == "en"), quota=0.25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the 64-row λ table must join broadcast (explicit F.broadcast)
    assert "BroadcastHashJoin" in plan
    # the rank window partitions by the stratum — an empty partition spec
    # (single-partition global sort) must never appear in the plan
    assert "windowspecdefinition(lang" in plan
    assert "windowspecdefinition(gumbel" not in plan


# ---------------------------------------------------------------------------
# rounding-boundary margins of the LM-data oracles
# ---------------------------------------------------------------------------

_TIE_MARGIN = 1e-9


def _boundary_gap(x: float, dp: int) -> float:
    """Distance from x to the nearest half-way point of the dp-decimal grid."""
    scaled = x * 10**dp
    return abs(scaled - math.floor(scaled) - 0.5) / 10**dp


def test_lmdata_oracle_values_clear_rounding_boundaries(spark, sf_dir):
    """Spark and DuckDB agree on the four LM-data queries only because every
    rounded double sits far from a rounding boundary, where accumulation-
    order noise (~1e-13) cannot flip the last digit. Recompute each
    pre-rounding value on the fixture corpus, require a 1e-9 margin, and
    check the recomputation against the query output, so a data refresh
    that lands a value on a boundary fails here rather than flaking the
    correctness sweep."""
    import pyarrow.parquet as pq

    from beholder_spark.operators.sample import _threshold_hex
    from beholder_spark.queries import QUERIES

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    docs = [r for r in docs.to_pylist() if r["text"] is not None]
    gaps: list[tuple[str, int, float]] = []

    def rounded(name: str, doc_id: int, x: float, dp: int) -> float:
        gaps.append((name, doc_id, _boundary_gap(x, dp)))
        return round(x, dp)

    # lm_perplexity_scores: cross_entropy 4dp, ppl 3dp
    scored = [r for r in docs if len(r["text"].split(" ")) >= 2]
    thr = _threshold_hex(0.8)
    ce_of = _py_bigram_scorer(
        [r["text"] for r in scored if hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8] < thr]
    )
    want_ppl = {}
    for r in scored:
        n, ce = ce_of(r["text"])
        i = r["doc_id"]
        want_ppl[i] = (n, rounded("cross_entropy", i, ce, 4), rounded("ppl", i, math.exp(ce), 3))

    # lm_ppl_bucket_split: per-language tercile cutoffs 4dp over the 3dp ppl
    lang = {r["doc_id"]: r["lang"] for r in scored}
    by_lang: dict[str, list[float]] = {}
    for i, (_, _, p) in want_ppl.items():
        by_lang.setdefault(lang[i], []).append(p)
    cuts = {
        lg: tuple(rounded(f"cut_{lg}", -1, c, 4) for c in _py_tercile_cuts(vals))
        for lg, vals in by_lang.items()
    }
    want_split = {}
    for i, (_, _, p) in want_ppl.items():
        c1, c2 = cuts[lang[i]]
        want_split[i] = (lang[i], p, "head" if p <= c1 else ("middle" if p <= c2 else "tail"))

    # dsir_resample_en: logw 4dp, then gumbel = logw - ln(-ln u) at 4dp
    texts = {r["doc_id"]: r["text"] for r in docs}
    en = {r["doc_id"] for r in docs if r["lang"] == "en"}
    want_dsir = {}
    for i, (n, w) in _py_dsir_logw(texts, en, 64, 0.5).items():
        u = (int(hashlib.md5(f"g:{i}".encode()).hexdigest()[:6], 16) + 0.5) / 16**6
        logw = rounded("logw", i, w, 4)
        want_dsir[i] = (n, logw, rounded("gumbel", i, logw - math.log(-math.log(u)), 4))

    assert len(gaps) > 3 * len(scored)
    close = [g for g in gaps if g[2] < _TIE_MARGIN]
    assert close == [], close

    for name, cols, want in (
        ("lm_perplexity_scores", ("n_bigrams", "cross_entropy", "ppl"), want_ppl),
        ("lm_ppl_bucket_split", ("lang", "ppl", "ppl_bucket"), want_split),
        ("dsir_resample_en", ("n_feats", "logw", "gumbel"), want_dsir),
    ):
        assert _by_id(QUERIES[name][0](spark, sf_dir), "doc_id", *cols) == want, name

    # lm_repeated_span_removal rounds nothing: its output is integers and text
    schema = QUERIES["lm_repeated_span_removal"][0](spark, sf_dir).schema
    assert {f.dataType.typeName() for f in schema} == {"long", "string"}
