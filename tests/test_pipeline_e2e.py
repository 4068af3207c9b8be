"""End-to-end pipeline correctness — the three BASELINE.json:6 clauses:
(a) byte-identical extracted text per url, (b) exact routed-row equality
per sink, (c) per-sink aggregate counts — plus lineage + resume."""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from beholder_spark.functions.textextract import extract_text
from beholder_spark.pipeline import run_pages_pipeline
from beholder_spark.plans import lineage as ln


def _expected_routed(fixture_dir: str) -> pd.DataFrame:
    """Independent (pure-pandas) reference of parse→enrich→route."""
    pages = pq.read_table(f"{fixture_dir}/pages.parquet").to_pandas()
    lookup = pq.read_table(f"{fixture_dir}/host_lookup.parquet").to_pandas()
    pages["text_out"] = [extract_text(h) for h in pq.read_table(f"{fixture_dir}/pages.parquet").column("html").to_pylist()]
    pages["parse_ok"] = pages["text_out"].notna()
    pages["host"] = pages["url"].str.extract(r"https://([^/]+)/")[0]
    merged = pages.merge(lookup, on="host", how="left")

    def route_of(r):
        if not r.parse_ok:
            return "_unparsed"
        if r.category == "spam":
            return "spam"
        if r.lang == "en":
            return "en"
        if r.lang in ("de", "fr", "es"):
            return "euro"
        return "_unmatched"

    merged["route"] = [route_of(r) for r in merged.itertuples()]
    return merged


@pytest.fixture(scope="module")
def pipeline_out(spark, fixture_dir, tmp_path_factory):
    out_root = str(tmp_path_factory.mktemp("pipe"))
    res = run_pages_pipeline(
        spark,
        f"{fixture_dir}/pages.parquet",
        f"{fixture_dir}/host_lookup.parquet",
        out_root,
    )
    return out_root, res


def test_byte_identical_text(pipeline_out, spark, fixture_dir):
    """Sink text_out vs the input table's golden text, joined on url —
    the sink itself no longer persists the input column (sink hygiene)."""
    _, res = pipeline_out
    golden = spark.read.parquet(f"{fixture_dir}/pages.parquet").select("url", "warc_ts", "text")
    routed = res["routed"].select("url", "warc_ts", "text_out").join(golden, ["url", "warc_ts"])
    assert "text" not in res["routed"].columns  # input column not re-persisted
    bad = routed.filter(
        ~(
            (F.col("text").isNull() & F.col("text_out").isNull())
            | (F.encode(F.col("text"), "UTF-8") == F.encode(F.col("text_out"), "UTF-8"))
        )
    )
    assert bad.count() == 0


def test_exact_routed_rows_per_sink(pipeline_out, fixture_dir):
    _, res = pipeline_out
    got = (
        res["routed"]
        .select("url", "warc_ts", "route")
        .toPandas()
        .sort_values(["url", "warc_ts", "route"])
        .reset_index(drop=True)
    )
    exp = (
        _expected_routed(fixture_dir)[["url", "warc_ts", "route"]]
        .sort_values(["url", "warc_ts", "route"])
        .reset_index(drop=True)
    )
    got["warc_ts"] = got["warc_ts"].astype("datetime64[us]")
    exp["warc_ts"] = exp["warc_ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, exp)


def test_per_sink_aggregate_counts(pipeline_out, fixture_dir):
    _, res = pipeline_out
    got = res["agg_counts"].toPandas()
    exp_routed = _expected_routed(fixture_dir)
    exp_routed["bucket"] = exp_routed["warc_ts"].dt.floor("h")
    exp = (
        exp_routed.groupby(["route", "host", "lang", "bucket"], dropna=False)
        .size()
        .reset_index(name="n")
    )
    key = ["route", "host", "lang", "bucket"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    got["bucket"] = got["bucket"].astype("datetime64[us]")
    exp["bucket"] = exp["bucket"].astype("datetime64[us]")
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(got[key + ["n"]], exp[key + ["n"]], check_dtype=False)


def test_lineage_metrics(pipeline_out, spark):
    out_root, _ = pipeline_out
    lin = ln.read_lineage(spark, out_root).toPandas()
    assert set(lin.stage) == {"routed"}
    row = lin.iloc[0]
    assert row.rows_out == 2000
    assert row.parse_failures > 0  # NULL-html rows exist by construction
    assert row.n_partitions > 0
    manifest = ln.read_manifest(spark, out_root).toPandas()
    assert len(manifest) == row.n_partitions


def test_resume_null_day_rows_exactly_once(spark, tmp_path):
    """Rows with NULL warc_ts land in the default partition, are tracked
    under the manifest's sentinel key, and are neither silently dropped
    nor re-appended by a resumed run."""
    import datetime as dt

    pages = spark.createDataFrame(
        [
            ("https://a.example/x", dt.datetime(2026, 1, 1), b"<p>hi</p>", "hi", "en"),
            ("https://a.example/y", None, b"<p>null day</p>", "null day", "en"),
        ],
        ["url", "warc_ts", "html", "text", "lang"],
    )
    lookup = spark.createDataFrame([("a.example", "EU", "news")], ["host", "geo", "category"])
    pp, lp, out = str(tmp_path / "p"), str(tmp_path / "l"), str(tmp_path / "o")
    pages.write.parquet(pp)
    lookup.write.parquet(lp)

    res1 = run_pages_pipeline(spark, pp, lp, out)
    assert res1["routed"].count() == 2
    res2 = run_pages_pipeline(spark, pp, lp, out)
    assert res2["routed"].count() == 2  # not 3 (no re-append), not 1 (no drop)
    lin = ln.read_lineage(spark, out).toPandas()
    assert sorted(lin.rows_out.tolist()) == [0, 2]


def test_resume_skips_completed_partitions(pipeline_out, spark, fixture_dir):
    """Second run over the same input: every partition is in the manifest,
    so the stage writes 0 rows (resumable without recomputation)."""
    out_root, _ = pipeline_out
    res2 = run_pages_pipeline(
        spark,
        f"{fixture_dir}/pages.parquet",
        f"{fixture_dir}/host_lookup.parquet",
        out_root,
    )
    lin = ln.read_lineage(spark, out_root).toPandas().sort_values("run_id")
    assert len(lin) == 2
    assert sorted(lin.rows_out.tolist()) == [0, 2000]
    # and the routed table did not grow
    assert res2["routed"].count() == 2000


def test_crash_between_data_write_and_manifest_no_duplicates(spark, tmp_path, monkeypatch):
    """Crash-atomicity: a failure AFTER the stage data write but BEFORE
    the manifest append must not produce duplicate rows when the run is
    resumed. The orphaned run_id directory stays on disk (proven below)
    but is invisible to manifested reads, and the partition re-runs under
    a fresh run_id."""
    import datetime as dt
    import os

    df = spark.createDataFrame(
        [
            (1, dt.date(2026, 1, 1), "a"),
            (2, dt.date(2026, 1, 1), "b"),
            (3, dt.date(2026, 1, 2), "c"),
        ],
        ["id", "day", "v"],
    )
    root = str(tmp_path / "root")
    real_append = ln._append

    def crash_before_manifest(spark_, root_, table, rows):
        if table == ln.MANIFEST:
            raise RuntimeError("injected crash: data written, manifest not")
        return real_append(spark_, root_, table, rows)

    monkeypatch.setattr(ln, "_append", crash_before_manifest)
    with pytest.raises(RuntimeError, match="injected crash"):
        ln.run_stage(spark, root, "s", df, partition_col="day")
    monkeypatch.setattr(ln, "_append", real_append)

    # resume: partitions are still pending (nothing manifested) → rewritten
    out = ln.run_stage(spark, root, "s", df, partition_col="day")
    assert out.count() == 3  # exactly once, no duplicates
    assert sorted(r.id for r in out.select("id").collect()) == [1, 2, 3]
    # the orphan data IS physically on disk — the manifest filter is what
    # hides it (this is the non-atomicity the run_id scoping defuses)
    raw = spark.read.parquet(os.path.join(root, "s"))
    assert raw.count() == 6
    # and a further resume writes nothing more
    again = ln.run_stage(spark, root, "s", df, partition_col="day")
    assert again.count() == 3
    lin = ln.read_lineage(spark, root).toPandas()
    assert sorted(lin.rows_out.tolist()) == [0, 3]  # crash run never logged


def _leaf_files(routed_dir: str, depth: int = 3) -> dict[str, int]:
    """Leaf directory ``depth`` levels down (``_run_id=*/day=*/route=*`` by
    default), as a relative path → its ``part-*`` count."""
    import os

    out = {}
    for dp, _dirs, files in os.walk(routed_dir):
        rel = os.path.relpath(dp, routed_dir)
        if rel.count(os.sep) == depth - 1:
            out[rel] = sum(f.startswith("part-") for f in files)
    return out


def _write_split(table, out_dir: str, n_files: int = 4) -> str:
    import os

    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet"))
    return out_dir


def test_routed_stage_writes_one_file_per_leaf(spark, tmp_path):
    """Crawl-ordered input in 4 files: days straddle file (= scan task)
    boundaries, so a per-task writer would put 2 files into the straddling
    day/route leaves. The routed stage is rebalanced by its partition
    columns: every leaf holds exactly one file, on the first run and on a
    resumed run over new days, and the rows are the golden text. The
    uncheckpointed path (``day=*/route=*``) writes one file per leaf too."""
    import datetime as dt
    import os

    import pyarrow.compute as pc

    from beholder_spark import fixtures

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 4
    pages = fixtures.gen_pages(2000, 3).sort_by("warc_ts")
    early = pages.filter(pc.less(pages["warc_ts"], dt.datetime(2026, 1, 5)))
    lp = str(tmp_path / "lookup.parquet")
    pq.write_table(fixtures.gen_host_lookup(3), lp)
    out = str(tmp_path / "out")
    routed_dir = os.path.join(out, "routed")

    run_pages_pipeline(spark, _write_split(early, str(tmp_path / "early")), lp, out)
    first = _leaf_files(routed_dir)
    assert len(first) > 4 and first == {k: 1 for k in first}

    all_dir = _write_split(pages, str(tmp_path / "all"))
    res = run_pages_pipeline(spark, all_dir, lp, out)
    second = _leaf_files(routed_dir)
    new = {k: v for k, v in second.items() if k not in first}
    assert {k: second[k] for k in first} == first  # resume left old leaves alone
    assert new and new == {k: 1 for k in new}  # one file per new leaf
    new_days = {k.split(os.sep)[1] for k in new}
    assert new_days == {f"day=2026-01-0{d}" for d in (5, 6, 7)}

    def key(url, ts, text):
        return (url, ts, text is not None, text or "")

    got = sorted(key(*r) for r in res["routed"].select("url", "warc_ts", "text_out").collect())
    exp = sorted(key(*r) for r in zip(*(pages[c].to_pylist() for c in ("url", "warc_ts", "text"))))
    assert got == exp

    flat = str(tmp_path / "flat")
    run_pages_pipeline(spark, all_dir, lp, flat, checkpoint=False)
    leaves = _leaf_files(os.path.join(flat, "routed"), depth=2)
    assert len(leaves) > 4 and leaves == {k: 1 for k in leaves}


def _days_frame(spark, days):
    import datetime as dt

    return spark.createDataFrame(
        [(i, dt.date(2026, 1, d), f"v{i}") for i, d in enumerate(days)],
        ["id", "day", "v"],
    )


def test_bookkeeping_schemas_pinned(spark, tmp_path):
    """`_manifest` / `_lineage` keep the names, alphabetical order and
    string/bigint types that list-of-dicts inference gave older roots."""
    root = str(tmp_path / "root")
    ln.run_stage(spark, root, "s", _days_frame(spark, [1, 2]), partition_col="day")

    def shape(table):
        return [(f.name, f.dataType.simpleString()) for f in spark.read.parquet(f"{root}/{table}").schema]

    assert shape(ln.MANIFEST) == [("partition", "string"), ("run_id", "string"), ("stage", "string")]
    assert shape(ln.LINEAGE) == [
        ("dropped", "bigint"),
        ("dropped_overflow", "bigint"),
        ("n_partitions", "bigint"),
        ("parse_failures", "bigint"),
        ("rows_out", "bigint"),
        ("run_id", "string"),
        ("stage", "string"),
        ("wall_ms", "bigint"),
    ]


def test_append_plans_local_relation(spark, tmp_path, monkeypatch):
    """The bookkeeping frame is a JVM LocalRelation, not a LogicalRDD fed
    by a Python-worker job — with the Arrow conf on or off."""
    frames = []
    real_create = type(spark).createDataFrame

    def capture(self, *args, **kwargs):
        frames.append(real_create(self, *args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(type(spark), "createDataFrame", capture)
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    try:
        for enabled in ("true", "false"):
            spark.conf.set(conf, enabled)
            ln._append(spark, str(tmp_path), ln.MANIFEST, [{"stage": "s", "partition": "p", "run_id": "r1"}])
    finally:
        spark.conf.set(conf, before)
    assert [f._jdf.queryExecution().logical().getClass().getSimpleName() for f in frames] == [
        "LocalRelation",
        "LocalRelation",
    ]
    assert spark.read.parquet(f"{tmp_path}/{ln.MANIFEST}").count() == 2


def test_resume_root_written_by_inferred_bookkeeping(spark, tmp_path, monkeypatch):
    """A root whose first run's bookkeeping came from the older
    `createDataFrame(list_of_dicts)` append resumes cleanly: manifested
    partitions are skipped and no row is read twice."""
    root = str(tmp_path / "root")
    real_append = ln._append

    def inferred_append(spark_, root_, table, rows):
        spark_.createDataFrame(rows).coalesce(1).write.mode("append").parquet(f"{root_}/{table}")

    monkeypatch.setattr(ln, "_append", inferred_append)
    ln.run_stage(spark, root, "s", _days_frame(spark, [1, 1, 2]), partition_col="day")
    monkeypatch.setattr(ln, "_append", real_append)

    out = ln.run_stage(spark, root, "s", _days_frame(spark, [1, 1, 2, 3]), partition_col="day")
    assert sorted(r.id for r in out.select("id").collect()) == [0, 1, 2, 3]
    lin = ln.read_lineage(spark, root).toPandas()
    assert sorted(zip(lin.rows_out, lin.n_partitions)) == [(1, 1), (3, 2)]
    assert ln.done_partitions(spark, root, "s") == {"2026-01-01", "2026-01-02", "2026-01-03"}


def test_run_stage_empty_input_passes_through(spark, tmp_path):
    """Nothing written yet (empty input, no stage files) is the one read
    failure run_stage absorbs."""
    empty = _days_frame(spark, [1]).limit(0)
    out = ln.run_stage(spark, str(tmp_path / "root"), "s", empty, partition_col="day")
    assert out.count() == 0


def test_run_stage_read_failure_propagates(spark, tmp_path, monkeypatch):
    """Any other failure reading the manifested table surfaces: falling
    back to the pending input would make a resume count only new rows."""

    def broken_read(*args, **kwargs):
        raise RuntimeError("read failed")

    monkeypatch.setattr(ln, "read_stage", broken_read)
    with pytest.raises(RuntimeError, match="read failed"):
        ln.run_stage(spark, str(tmp_path / "root"), "s", _days_frame(spark, [1]), partition_col="day")


def test_bpe_token_count_goldens(spark):
    """Exact BPE over the pinned merge table — hand-computed goldens.

    With BPE_MERGES priorities: 'the' → th→the (1); 'and' → an→and (1);
    'ing' → in→ing (1); 'that' → th + at (2); an unmergeable pretoken
    counts its characters; contractions split off per PRETOK_REGEX."""
    from beholder_spark.operators import textstats as ts

    rows = [
        (1, "the"),  # (t,h) then (th,e) → 1 symbol
        (2, "and ing"),  # two pretokens (' ing' → space-prefixed): 1 + ?
        (3, "that"),  # th + at → 2
        (4, "xyzq"),  # no merges apply → 4 chars
        (5, "don't"),  # pretokens: "don" (d,on→2) + "'t" (no merge → 2)
        (6, None),
    ]
    df = ts.with_bpe_tokens(spark.createDataFrame(rows, ["id", "text"]))
    got = {r.id: r.n_bpe_exact for r in df.collect()}
    assert got[1] == 1
    assert got[3] == 2
    assert got[4] == 4
    assert got[6] is None
    # 'and' → 1; ' ing': symbols [' ','i','n','g'] → (i,n),(in,g) → [' ','ing'] = 2
    assert got[2] == 1 + 2
    # 'don': (o,n) → ['d','on'] = 2 ; "'t": no merge for ("'",'t') → 2
    assert got[5] == 2 + 2


def test_rare_token_stats_freq_reuse(spark):
    """The precomputed token-df table gives IDENTICAL results to the
    inline aggregate — the reuse contract for sweeping thresholds/subsets
    without re-aggregating the corpus."""
    from beholder_spark.operators import textstats as ts

    rows = [(i, f"common tok{i} shared{'x' if i % 2 else ''}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    freq = ts.token_df(df, "doc_id").persist()
    inline = ts.rare_token_stats(df, "doc_id").collect()
    reused = ts.rare_token_stats(df, "doc_id", freq=freq).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, reused))
    # and the table actually carries corpus frequencies
    f = {r.tok: r.tok_df for r in freq.collect()}
    assert f["common"] == 20 and f["tok3"] == 1
    freq.unpersist()


def test_bpe_matches_independent_implementation_on_corpus(spark):
    """Corpus-scale BPE verifier (the oracle-gate stand-in for a
    non-SQL-expressible op): Spark's n_bpe_exact over 100 real documents
    equals an INDEPENDENTLY-STRUCTURED BPE — lowest-rank-first with
    restart after every successful merge, a different control flow from
    the operator's scan-for-best-pair loop."""
    from beholder_spark.operators import textstats as ts

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(100)
    )
    got = {r.doc_id: r.n_bpe_exact for r in ts.with_bpe_tokens(docs).collect()}

    # shared pre-tokenization (the pinned JVM regex), independent merges
    pre = docs.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit(ts.PRETOK_REGEX), F.lit(0)).alias("toks"),
    ).collect()
    ranks = list(ts.BPE_MERGES)

    def merge_restart(tok: str) -> int:
        syms = list(tok)
        restart = True
        while restart and len(syms) > 1:
            restart = False
            for a, b in ranks:  # lowest rank first; restart on success
                j = 0
                merged_any = False
                while j < len(syms) - 1:
                    if syms[j] == a and syms[j + 1] == b:
                        syms[j : j + 2] = [a + b]
                        merged_any = True
                    else:
                        j += 1
                if merged_any:
                    restart = True
                    break
        return len(syms)

    for r in pre:
        expected = sum(merge_restart(t) for t in r.toks) if r.toks is not None else None
        assert got[r.doc_id] == expected, r.doc_id


def test_hll_approx_distinct_within_error_bound(spark):
    """Independent verifier for the rows-only `approx_distinct_users`
    sweep exemption (CLAUDE.md invariant: approximate ops need a pytest
    verifier, not just a row count): per event_type, the HLL estimate at
    rsd=0.02 must sit within 10x the requested rsd of the EXACT distinct
    count (generous deterministic bound; HLL's error is ~rsd with high
    probability, so a wrong column, wrong rsd argument, or a broken
    sketch shows up as a gross violation)."""
    from beholder_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    approx = {
        r.event_type: r.n_approx
        for r in QUERIES["approx_distinct_users"][0](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n_exact
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .collect()
    }
    assert set(approx) == set(exact) and approx, "grouping keys must match"
    for et, n_ex in exact.items():
        rel_err = abs(approx[et] - n_ex) / max(n_ex, 1)
        assert rel_err <= 0.2, (et, approx[et], n_ex, rel_err)
