"""Physical-plan shape assertions — the scale properties PLANS.md claims,
checked mechanically so they can't silently regress:

- filters/partition predicates reach the parquet scan,
- the lookup enrich is a broadcast join (big side never shuffles),
- salted aggregation is two hash-aggregate phases,
- the parse→enrich→route chain has no Exchange before the sink.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning_on_routed_sink(spark, fixture_dir, tmp_path):
    """Reading one day of a day-partitioned sink must prune partitions at
    the scan (PartitionFilters), not filter after reading everything."""
    df = (
        spark.read.parquet(f"{fixture_dir}/pages.parquet")
        .withColumn("day", F.to_date("warc_ts"))
    )
    out = str(tmp_path / "parts")
    df.write.partitionBy("day").parquet(out)
    one_day = df.select("day").first().day
    back = spark.read.parquet(out).filter(F.col("day") == F.lit(one_day))
    plan = _plan(back)
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]


def test_predicate_pushdown_to_scan(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/pages.parquet").filter(F.col("lang") == "en")
    plan = _plan(df.select("url"))
    pushed = plan.split("PushedFilters:", 1)[1][:200]
    assert "lang" in pushed  # EqualTo(lang,en) reached the parquet reader
    # column pruning: the scan reads only url+lang, never html/text
    read_schema = plan.split("ReadSchema:", 1)[1][:200]
    assert "html" not in read_schema and "text" not in read_schema


def test_enrich_is_broadcast_join(spark, fixture_dir):
    from beholder_spark.operators.enrich import enrich_lookup

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST"))
    )
    lookup = spark.read.parquet(f"{fixture_dir}/host_lookup.parquet")
    plan = _plan(enrich_lookup(pages, lookup, on="host"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_routed_chain_has_no_exchange(spark, fixture_dir):
    """parse→enrich→route is ONE narrow pipeline: the only allowed
    Exchange is the broadcast of the lookup table."""
    from beholder_spark.pipeline import compile_pipeline, pages_spec

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    lookup = spark.read.parquet(f"{fixture_dir}/host_lookup.parquet")
    routed = compile_pipeline(pages, pages_spec(lookup))
    plan = _plan(routed)
    assert "BroadcastExchange" in plan
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan


def test_prune_spec_drops_parse_udf_for_preparse_aggregates(spark, fixture_dir):
    """Catalyst can't prune the parse UDF (parse_ok makes it load-bearing);
    the stage compiler's prune_spec must — an aggregate over (host,
    category) never pays text extraction."""
    from beholder_spark.pipeline import compile_pipeline, pages_spec

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    lookup = spark.read.parquet(f"{fixture_dir}/host_lookup.parquet")
    pruned = compile_pipeline(pages, pages_spec(lookup), prune_for=["host", "category"])
    plan = _plan(pruned.groupBy("host", "category").count())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # values must be identical to the full pipeline's on the needed columns
    full = compile_pipeline(pages, pages_spec(lookup))
    a = pruned.groupBy("host", "category").count()
    b = full.groupBy("host", "category").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_prune_spec_keeps_parse_when_route_needed(spark, fixture_dir):
    """Asking for the route column keeps the whole chain (route deps are
    declared on the stage): the UDF stays, nothing is wrongly pruned."""
    from beholder_spark.pipeline import compile_pipeline, pages_spec

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    lookup = spark.read.parquet(f"{fixture_dir}/host_lookup.parquet")
    routed = compile_pipeline(pages, pages_spec(lookup), prune_for=["route"])
    assert "ArrowEvalPython" in _plan(routed.select("route"))


def test_prune_spec_bails_on_unknown_deps(spark, fixture_dir):
    """A row-filter stage with an opaque condition and no declared deps
    must disable pruning entirely (correctness over optimization)."""
    from beholder_spark.pipeline import prune_spec, pages_spec

    lookup = spark.read.parquet(f"{fixture_dir}/host_lookup.parquet")
    spec = pages_spec(lookup) + [{"op": "drop_when", "condition": F.col("lang") == "xx"}]
    assert prune_spec(spec, ["host"]) == spec


def test_salted_count_is_two_phase(spark, fixture_dir):
    from beholder_spark.operators.skew import salted_count

    events = spark.read.parquet(f"{fixture_dir}/loglines.parquet")
    col = events.columns[0]
    out = salted_count(events, [col], salt_from=col)
    plan = _plan(out)
    # phase 1 partial on (key, salt), phase 2 final on key — at least two
    # HashAggregate pairs and a shuffle keyed by the salt column
    assert plan.count("HashAggregate") >= 4
    assert "_salt" in plan

def test_bucketed_join_is_shuffle_free(spark):
    """Co-located bucketed tables: an equi-join on the bucket key between
    two tables bucketed with the SAME count runs with ZERO exchanges on
    either side (the shuffle was paid once at write), and the joined rows
    are exactly the plain join's rows."""
    from beholder_spark import sinks

    a = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("va")
    )
    b = spark.range(0, 4000).select(
        (F.col("id") % 2000).alias("k2"), (F.col("id") % 13).alias("vb")
    )
    sinks.write_bucketed(a, "t_bucketed_a", "k", 8)
    sinks.write_bucketed(b, "t_bucketed_b", "k2", 8)
    try:
        ta, tb = spark.table("t_bucketed_a"), spark.table("t_bucketed_b")
        # force SMJ (tiny fixtures would otherwise broadcast, which proves
        # nothing about bucket co-location)
        joined = ta.hint("merge").join(tb, ta["k"] == tb["k2"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # neither side shuffles: co-located
        assert joined.count() == 4000  # every b row matches exactly one a row
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_b")


def test_broadcast_guard_engages_fallback_above_limit(spark):
    """bounded_small_side (VERDICT r3 item 3): under the row limit the
    small side broadcasts; above it the join falls back to a shuffled
    hash join on the md5 keys — and both shapes return identical rows."""
    from beholder_spark.operators import webtext as wt

    big = spark.range(500).select(F.md5(F.col("id").cast("string")).alias("h"))
    small = spark.range(0, 50, 3).select(F.md5(F.col("id").cast("string")).alias("h"))

    under = big.join(wt.bounded_small_side(small, row_limit=100), "h", "left_anti")
    plan_under = _plan(under)
    assert "BroadcastHashJoin" in plan_under and "ShuffledHashJoin" not in plan_under

    over = big.join(wt.bounded_small_side(small, row_limit=5), "h", "left_anti")
    plan_over = _plan(over)
    assert "ShuffledHashJoin" in plan_over and "BroadcastHashJoin" not in plan_over

    assert sorted(r.h for r in under.collect()) == sorted(r.h for r in over.collect())


def test_broadcast_guard_materializes_once(spark):
    """bounded_small_side (VERDICT r4 item 4): the guarded side is spilled
    to a session temp parquet EXACTLY ONCE — the final join plan scans the
    spill files instead of re-running the derived aggregation (the r1-r4
    count gate computed the digest aggregation twice per guarded join)."""
    from beholder_spark.operators import webtext as wt

    docs = spark.createDataFrame(
        [(1, "footer\nbody a"), (2, "footer\nbody b"), (3, "footer\nbody c")],
        ["doc_id", "text"],
    )
    out = wt.drop_repeated_spans(docs, "doc_id", "text", max_doc_freq=2)
    plan = _plan(out)
    # the anti-join's right side is a parquet scan of the spill dir …
    assert "beholder_spill" in plan
    # … and the hot-span doc-frequency aggregation is NOT in the plan at
    # all (it ran once, inside the spill write job)
    assert "span_df" not in plan
    # correctness unchanged: 'footer' (df=3 > 2) dropped, bodies survive
    rows = {r.doc_id: r.text_dedup for r in out.collect()}
    assert rows == {1: "body a", 2: "body b", 3: "body c"}


def test_broadcast_guard_empty_side(spark):
    """An empty guarded side (no hot spans / empty blocklist) must not
    break the spill read — it degrades to an empty broadcast relation."""
    from beholder_spark.operators import webtext as wt

    big = spark.range(10).select(F.md5(F.col("id").cast("string")).alias("h"))
    empty = big.filter(F.lit(False))
    out = big.join(wt.bounded_small_side(empty, row_limit=100), "h", "left_anti")
    assert out.count() == 10


def test_webtext_guard_fallback_results_identical(spark):
    """Both guarded webtext call-sites stay hash-exact when the fallback
    engages (row_limit=0 forces the shuffled shape end-to-end)."""
    from beholder_spark.operators import webtext as wt

    docs = spark.createDataFrame(
        [
            (1, "keep one\nfooter\nbody a"),
            (2, "footer\nbody b"),
            (3, "footer\nbody c\nkeep three"),
        ],
        ["doc_id", "text"],
    )
    base = {
        r.doc_id: r.text_dedup
        for r in wt.drop_repeated_spans(docs, "doc_id", "text", max_doc_freq=2).collect()
    }
    forced = {
        r.doc_id: r.text_dedup
        for r in wt.drop_repeated_spans(
            docs, "doc_id", "text", max_doc_freq=2, broadcast_row_limit=0
        ).collect()
    }
    assert base == forced and base[2] == "body b"

    bench = spark.createDataFrame([("alpha beta gamma delta",)], ["text"])
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota")],
        ["doc_id", "text"],
    )
    a = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in wt.contamination_overlap(corpus, bench, "doc_id", "text").collect()
    }
    b = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in wt.contamination_overlap(
            corpus, bench, "doc_id", "text", broadcast_row_limit=0
        ).collect()
    }
    assert a == b and a[1][1] > 0 and a[2][1] == 0


def test_warc_and_codec_queries_ride_the_scan_with_zero_exchange(spark, sf_dir):
    """WARC ingest must stay scan-riding: parquet scan, fixture Arrow
    stage, the real parser MapInPandas stage, NO shuffle anywhere."""
    from beholder_spark.queries import QUERIES

    df = QUERIES["parse_warc_records"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_broadcast_guard_remote_scheme_count_path(spark, tmp_path, monkeypatch):
    """The non-footer decision branch (schemed spill root -> count via a
    Spark read of the materialized table) — never taken by the other
    guard tests, which all use the local-default root. A file:// root
    exercises it end-to-end: under the limit the side still broadcasts
    from the spill, over the limit the original plan falls back, and an
    empty side survives the explicit-schema read of a footerless dir."""
    from beholder_spark.operators import webtext as wt

    monkeypatch.setattr(wt, "_SPILL_ROOT", f"file://{tmp_path}/spill")

    big = spark.range(200).select(F.md5(F.col("id").cast("string")).alias("h"))
    small = spark.range(0, 30, 3).select(F.md5(F.col("id").cast("string")).alias("h"))

    under = big.join(wt.bounded_small_side(small, row_limit=100), "h", "left_anti")
    plan_under = under._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_under
    over = big.join(wt.bounded_small_side(small, row_limit=5), "h", "left_anti")
    plan_over = over._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_over
    assert sorted(r.h for r in under.collect()) == sorted(r.h for r in over.collect())

    empty = big.filter(F.lit(False))
    out = big.join(wt.bounded_small_side(empty, row_limit=100), "h", "left_anti")
    assert out.count() == 200


def test_connected_components_plan_is_truncated(spark):
    """Plan-truncation pin for the star-CC loop: the returned labels
    frame must be a checkpointed scan, NOT the unrolled round plan —
    the r5-initial version let the logical plan grow ~10x per round and
    Catalyst analysis dominated wall-clock (90 s on a 691-pair input).
    A re-unrolled plan would reintroduce that silently; this asserts the
    output plan contains no joins or aggregates at all."""
    from beholder_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
    )
    out = dd.connected_components(pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan
    assert out.count() == 41
