"""Correctness-sweep registry-order contract.

The driver's correctness sweep covers the first 50 entries of
``queries()`` in dict order.  These tests pin that the first 50 registered
queries are all oracle-exact and include every flagship operator and at
least one representative of each operator family.
"""

from __future__ import annotations

from beholder_spark.queries import _SWEEP_FIRST, _SWEEP_ROWS_ONLY, QUERIES

REQUIRED_FLAGSHIPS = [
    # temporal joins, duplicate clustering and incremental dedup
    "asof_purchase_attribution",
    "interval_clicks_before_purchase",
    "dedup_dup_clusters",
    "dedup_incremental_new_vs_index",
    "dedup_fuzzy_pipeline_counts",
    "dedup_fuzzy_quality_survivors",
    # web-corpus curation
    "webtext_span_dedup",
    "webtext_pii_redact",
    "curation_pipeline_counts",
    "adaptive_length_filter",
    # webtext ingest: WARC parse, WARC dedup, blocklist
    "parse_warc_records",
    "warc_ingest_dedup_counts",
    "webtext_badwords_blocklist",
    # engine self-observability
    "config_internal_log_counts",
    # field rewriting, grouping sets and approximate distinct counts
    "set_date_format",
    "set_basename",
    "cube_lang_source",
    "pivot_type_by_day",
    "approx_distinct_users",
    "textstats_bpe_tokens",
    # LM-data curation: perplexity, repeated spans, CCNet split, DSIR
    "lm_perplexity_scores",
    "lm_repeated_span_removal",
    "lm_ppl_bucket_split",
    "dsir_resample_en",
    # training-batch shaping
    "pack_sequences_windows",
    "pack_bins_nosplit",
    "mix_token_budget_langs",
]

# At least one oracle-exact representative per operator family.
FAMILY_REPS = [
    "flagship_stats_by_type_hour",  # stats counts + time bucketing
    "parse_syslog_roundtrip",  # parse family: text
    "parse_fieldpack_roundtrip",  # parse family: binary
    "route_switch_lang",  # routing family
    "config_switch_routed_counts",  # config front end
    "set_date_format",  # field-rewrite family
    "enrich_broadcast_geo",  # lookup enrich
    "anti_orders_without_lineitems",  # semi/anti resume
    "union_sources_counts",  # union
    "distinct_users_by_type",  # distinct counts
    "topk_source_per_lang",  # top-k
    "running_total_per_user",  # windows
    "sessionize_user_events",  # sessionization
    "percentiles_value_by_type",  # percentiles
    "cube_lang_source",  # rollup/cube/grouping-sets family
    "salted_join_order_priority",  # skew salting
    "stream_windowed_counts_events",  # streaming
    "dedup_minhash_lsh_capped",  # MinHash+LSH
    "dedup_simhash48",  # SimHash
    "embed_cosine_topk",  # similarity search
]


def test_sweep_first_is_exactly_the_first_50():
    assert len(_SWEEP_FIRST) == 50
    assert list(QUERIES)[:50] == _SWEEP_FIRST


def test_first_50_all_oracle_exact():
    # The only oracle-less sweep entries allowed are the two documented
    # rows-only-by-design queries (HLL approx; iterative BPE), each backed
    # by an independent pytest verifier (SURVEY §8).
    missing = [
        n
        for n in list(QUERIES)[:50]
        if QUERIES[n][1] is None and n not in _SWEEP_ROWS_ONLY
    ]
    assert missing == []
    assert _SWEEP_ROWS_ONLY == {"approx_distinct_users", "textstats_bpe_tokens"}


def test_first_50_cover_round2_flagships_and_families():
    first = set(list(QUERIES)[:50])
    assert [n for n in REQUIRED_FLAGSHIPS if n not in first] == []
    assert [n for n in FAMILY_REPS if n not in first] == []


def test_nothing_lost_in_reorder():
    # Reordering must be a permutation: every registered query still present.
    assert len(QUERIES) == len(set(QUERIES)) >= 78
