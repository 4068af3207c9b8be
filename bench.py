"""Benchmark harness (driver contract + scaling evidence).

Default mode: run the headline workload at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and print
TWO JSON lines — the full record (per-query min/median/runs, also
persisted to ``BENCH/bench_last_full.json``) first, then a
compact headline as the FINAL stdout line::

    {"metric": "...", "value": <docs/sec>, "unit": "docs/sec",
     "queries": {"q": sec, ...}, "sf": ...}

The driver tail-captures only the last 2000 chars of stdout, so the last
line is kept under 1800 chars (the scalar ``queries`` table is dropped
first if it would ever overflow). The headline metric is end-to-end
parse→enrich→route→aggregate docs/sec over a deterministic synthetic
CC-style pages table (BASELINE.json:2); ``queries`` adds per-operator
seconds over the sf testdata.

``--scaling`` mode runs the SAME pipeline at two parallelism levels
(local[8] vs local[32]) in fresh subprocesses and reports throughput at
both plus efficiency E = T32/(4·T8) — the sandbox evidence protocol for
the N→4N ≥0.8 criterion (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_BASE_ROWS = int(os.environ.get("BENCH_BASE_ROWS", "120000"))
BENCH_REPLICATION = int(os.environ.get("BENCH_REPLICATION", "72"))
BASE_CACHE = f"/tmp/beholder_bench/base_{BENCH_BASE_ROWS}"
PAGES_CACHE = f"/tmp/beholder_bench/pages_{BENCH_BASE_ROWS}x{BENCH_REPLICATION}"
LOOKUP_CACHE = "/tmp/beholder_bench/host_lookup"


def ensure_bench_tables(spark=None) -> tuple[str, str]:
    """Deterministic synthetic pages table, cached across runs (the bench
    measures the engine, not the generator).

    Base rows are pure-Python seed-fixed; volume comes from a
    deterministic Spark-side ×N replication (distinct urls, shifted
    timestamps) so multi-million-row inputs build in seconds.
    """
    from beholder_spark.fixtures import gen_host_lookup, gen_pages

    import pyarrow.parquet as pq

    os.makedirs("/tmp/beholder_bench", exist_ok=True)
    if not os.path.exists(os.path.join(BASE_CACHE, "_DONE")):
        shutil.rmtree(BASE_CACHE, ignore_errors=True)
        os.makedirs(BASE_CACHE, exist_ok=True)
        chunk = max(2000, BENCH_BASE_ROWS // 64)
        for i, start in enumerate(range(0, BENCH_BASE_ROWS, chunk)):
            n = min(chunk, BENCH_BASE_ROWS - start)
            t = gen_pages(n, seed=42 + i)
            pq.write_table(t, os.path.join(BASE_CACHE, f"part-{i:04d}.parquet"))
        open(os.path.join(BASE_CACHE, "_DONE"), "w").close()
    if not os.path.exists(os.path.join(LOOKUP_CACHE, "_DONE")):
        shutil.rmtree(LOOKUP_CACHE, ignore_errors=True)
        os.makedirs(LOOKUP_CACHE, exist_ok=True)
        pq.write_table(gen_host_lookup(), os.path.join(LOOKUP_CACHE, "lookup.parquet"))
        open(os.path.join(LOOKUP_CACHE, "_DONE"), "w").close()

    if BENCH_REPLICATION <= 1:
        return BASE_CACHE, LOOKUP_CACHE

    if not os.path.exists(os.path.join(PAGES_CACHE, "_SUCCESS")):
        from pyspark.sql import functions as F

        if spark is None:
            from beholder_spark.session import get_spark

            spark = get_spark("bench-gen")
        base = spark.read.parquet(BASE_CACHE)
        copies = spark.range(BENCH_REPLICATION).withColumnRenamed("id", "_c")
        amplified = (
            base.crossJoin(F.broadcast(copies))
            .withColumn("url", F.concat(F.col("url"), F.lit("?c="), F.col("_c")))
            .withColumn("warc_ts", F.col("warc_ts") + F.make_interval(secs=F.col("_c")))
            .drop("_c")
        )
        amplified.repartition(128).write.mode("overwrite").parquet(PAGES_CACHE)
    return PAGES_CACHE, LOOKUP_CACHE


def run_pipeline_once(spark, pages_path: str, lookup_path: str) -> tuple[float, int]:
    """One full parse→enrich→route→aggregate pass; returns (sec, docs).

    Benchmark hygiene for the VM's shared virtio disk: drain dirty-page
    writeback (sync) before timing, so a run isn't billed for the
    PREVIOUS run's flush (observed 10× swings without this).
    """
    from beholder_spark.pipeline import run_pages_pipeline

    out = "/tmp/beholder_bench/out"
    shutil.rmtree(out, ignore_errors=True)
    n = spark.read.parquet(pages_path).count()  # also warms the page cache
    subprocess.run(["sync"], check=False)
    t0 = time.monotonic()
    run_pages_pipeline(spark, pages_path, lookup_path, out, checkpoint=False)
    return time.monotonic() - t0, n


def run_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, dict]]:
    """Representative per-operator timings over the sf testdata.

    Each query is timed ``BENCH_QUERY_RUNS`` times (min-of-N — the same
    protocol as the headline; single-run per-query numbers proved
    uninterpretable under the host's 3-6× noise: r3 drew fingerprint_dups
    at 16.2s vs 1.55s r2 with zero code change).

    Returns ``(times, detail)``: ``times`` is the driver-contract
    name→min_sec scalar dict; ``detail`` adds {min, median, runs} per
    query.
    """
    from beholder_spark.queries import QUERIES

    names = [
        "flagship_stats_by_type_hour",
        "parse_syslog_roundtrip",
        "parse_fieldpack_roundtrip",
        "route_switch_lang",
        "enrich_broadcast_geo",
        "tpch_q1_pricing",
        "top_orders_by_revenue",
        "salted_count_by_type",
        "dedup_latest_event_per_user",
        "dedup_minhash_lsh_capped",
        "dedup_simhash48",
        "embed_cosine_topk",
        "textstats_quality",
        "lang_id_confusion",
        "fingerprint_dups",
        "asof_purchase_attribution",
        "interval_clicks_before_purchase",
        "dedup_dup_clusters",
        "webtext_url_canonicalize",
        "webtext_span_dedup",
        "webtext_pii_redact",
        "curation_pipeline_counts",
        # r4 WARC ingest (fixture encode + real parse per row)
        "parse_warc_records",
        # r5 training-batch shaping (two-phase prefix sum / per-shard
        # applyInPandas fold / in-plan derived mixing rates)
        "pack_sequences_windows",
        "pack_bins_nosplit",
        "mix_token_budget_langs",
        # r5 LM-data curation (Spark-trained bigram LM scoring / corpus-
        # wide repeated-span mask / DSIR md5-Gumbel resampling)
        "lm_perplexity_scores",
        "lm_repeated_span_removal",
        "dsir_resample_en",
        "lm_ppl_bucket_split",
    ]
    runs_per = int(os.environ.get("BENCH_QUERY_RUNS", "3"))
    times: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in names:
        fn, _sql = QUERIES[name]
        samples = []
        for _ in range(runs_per):
            t0 = time.monotonic()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(round(time.monotonic() - t0, 3))
        ss = sorted(samples)
        times[name] = ss[0]
        detail[name] = {"min": ss[0], "median": ss[len(ss) // 2], "runs": samples}
    return times, detail


TAIL_BUDGET_CHARS = 1800  # driver captures the last 2000 stdout chars


def format_output_lines(full: dict) -> list[str]:
    """[full JSON, compact headline JSON] — the compact line is LAST on
    stdout and kept ≤ TAIL_BUDGET_CHARS so the driver's 2000-char tail
    capture always parses it (r4's single fat line yielded parsed:null).
    The scalar per-query table is included while it fits, dropped first
    if it would ever overflow."""
    compact = {
        k: full.get(k)
        for k in (
            "metric", "value", "unit", "pipeline_sec", "pipeline_docs", "sf",
        )
    }
    compact["detail"] = "BENCH/bench_last_full.json"
    with_queries = dict(compact, queries=full.get("queries", {}))
    line = json.dumps(with_queries)
    if len(line) > TAIL_BUDGET_CHARS:
        line = json.dumps(compact)
    return [json.dumps(full), line]


def main_bench() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from beholder_spark.session import get_spark

    spark = get_spark("beholder-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    pages_path, lookup_path = ensure_bench_tables(spark)

    # warm the JVM/scan once, then measure min-of-N. The host's shared
    # virtio disk + CPU give 2-5× swings between IDENTICAL back-to-back
    # runs (measured: compute-only 16.5s/20.0s/40.2s consecutive in one
    # JVM — BENCH/BASELINE.md noise section); the min is the engine's
    # capability, and a single-run headline is a lottery ticket.
    runs = int(os.environ.get("BENCH_PIPELINE_RUNS", "3"))
    run_pipeline_once(spark, pages_path, lookup_path)
    timed = [run_pipeline_once(spark, pages_path, lookup_path) for _ in range(runs)]
    docs = timed[0][1]
    secs = sorted(round(s, 2) for s, _ in timed)
    sec = secs[0]
    qtimes, qdetail = run_queries(spark, sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "e2e parse→enrich→route→aggregate throughput",
        "value": round(docs / sec, 1),
        "unit": "docs/sec",
        "pipeline_sec": round(sec, 2),
        "pipeline_runs_sec": secs,
        "pipeline_docs": docs,
        "queries": qtimes,
        "queries_detail": qdetail,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full record: first stdout line + durable file. The driver tail-captures
    # only the LAST 2000 chars of stdout, and the r4 full record (per-query
    # min/median/runs tables) outgrew that window → BENCH_r04.json
    # "parsed": null. So the full record goes FIRST (plus BENCH/ on disk) and
    # the very last line is a compact headline the tail window always fits.
    for line in format_output_lines(full):
        print(line)
    try:
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "bench_last_full.json"), "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass  # read-only checkout must not break the bench
    sys.stdout.flush()


SCALING_RUNS = int(os.environ.get("SCALING_RUNS", "5"))


def main_scaling_child(cores: int) -> None:
    from beholder_spark.session import get_spark

    spark = get_spark(f"scaling-{cores}", master=f"local[{cores}]", shuffle_partitions=cores)
    pages_path, lookup_path = ensure_bench_tables(spark)
    run_pipeline_once(spark, pages_path, lookup_path)  # warm-up
    runs = [run_pipeline_once(spark, pages_path, lookup_path) for _ in range(SCALING_RUNS)]
    secs = sorted(round(s, 2) for s, _ in runs)
    docs = runs[0][1]
    print(
        json.dumps(
            {
                "cores": cores,
                "min_sec": secs[0],
                "median_sec": secs[len(secs) // 2],
                "docs": docs,
                "runs_sec": secs,
            }
        )
    )


SCALING_CORES = tuple(
    int(c) for c in os.environ.get("SCALING_CORES", "8,32").split(",")
)


def main_scaling() -> None:
    """N vs 4N cores on the same input, fresh JVM each (fair caches).

    Reports efficiency from BOTH median and min run time. The sandbox's
    virtio disk has exogenous host IO contention (observed 3-4× swings on
    identical runs), which is additive noise: the min is the engine's
    capability; the median includes the environment.

    ``SCALING_CORES=4,16`` selects an alternative N,4N pair. Rationale:
    each Spark core drives BOTH a JVM task thread and an Arrow Python
    worker process, so local[32] on a 32-core host schedules ~50-60
    runnable threads — host oversubscription that a real 4N-executor
    cluster does not have. The (4,16) pair keeps both ends within the
    host (16 workers + ~10 JVM threads < 32 cores) and is the faithful
    sandbox proxy for the N→4N criterion.
    """
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    results = {}
    for cores in SCALING_CORES:
        # Confine the whole process tree (JVM + Arrow Python workers) to
        # exactly `cores` CPUs — emulating an executor HOST of that size.
        # Without this, local[N] borrows the machine's idle cores for GC /
        # Arrow IPC / parquet encode threads, flattering T_N and making
        # the N→4N ratio meaningless as a cluster proxy.
        affinity = ["taskset", "-c", f"0-{cores - 1}"] if os.environ.get(
            "SCALING_AFFINITY", "1"
        ) == "1" else []
        out = subprocess.run(
            [*affinity, sys.executable, os.path.abspath(__file__), "--scaling-child", str(cores)],
            capture_output=True,
            text=True,
            check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        results[cores] = json.loads(line)
    n, n4 = SCALING_CORES
    ratio = n4 / n
    docs = results[n]["docs"]

    def eff(key: str) -> tuple[float, float, float]:
        tn = docs / results[n][key]
        tn4 = docs / results[n4][key]
        return round(tn, 1), round(tn4, 1), round(tn4 / (ratio * tn), 3)

    tnm, tn4m, eff_median = eff("median_sec")
    tnb, tn4b, eff_min = eff("min_sec")
    print(
        json.dumps(
            {
                "docs": docs,
                "cores": list(SCALING_CORES),
                f"docs_per_sec_local{n}_median": tnm,
                f"docs_per_sec_local{n4}_median": tn4m,
                "scaling_efficiency_median": eff_median,
                f"docs_per_sec_local{n}_best": tnb,
                f"docs_per_sec_local{n4}_best": tn4b,
                "scaling_efficiency_best": eff_min,
                f"runs_sec_local{n}": results[n]["runs_sec"],
                f"runs_sec_local{n4}": results[n4]["runs_sec"],
                # the contract criterion (BASELINE.json) is graded on the
                # MEDIAN; best-run efficiency is forensic evidence only
                "pass": eff_median >= 0.8,
                "pass_median": eff_median >= 0.8,
                "pass_best": eff_min >= 0.8,
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        main_scaling()
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-child":
        main_scaling_child(int(sys.argv[2]))
    else:
        main_bench()
