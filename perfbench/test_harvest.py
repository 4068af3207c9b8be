"""The harvester's counts on tiny inputs, against values computed by hand
from the generator output.

    python3 -m pytest perfbench/test_harvest.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
_added = [os.path.dirname(HERE), HERE]
sys.path[:0] = _added

import run as bench  # noqa: E402
from harvest import StatusReader, layer_metrics, metric_value  # noqa: E402

for _p in _added:  # later test modules get the sys.path they would without this one
    sys.path.remove(_p)


def test_metric_value_reads_spark_display_strings():
    assert metric_value("1,655", "sum") == 1655
    assert metric_value("389.1 KiB", "size") == pytest.approx(389.1 * 1024)
    assert metric_value("371 ms", "timing") == 371
    assert metric_value("total (min, med, max (stageId: taskId))\n1.8 s (396 ms, 467 ms, 563 ms (stage 11.0: task 10))", "timing") == 1800
    assert metric_value("total (min, med, max (stageId: taskId))\n15 ms (2 ms, 3 ms, 6 ms (stage 11.0: task 10))", "nsTiming") == 15
    assert metric_value("1.2 m", "timing") == 72_000


@pytest.fixture(scope="module")
def spark():
    from beholder_spark.session import get_spark, ship_package

    with pytest.MonkeyPatch.context() as mp:  # a small session, env restored after
        mp.setenv("SPARK_DRIVER_MEM", os.environ.get("SPARK_DRIVER_MEM", "2g"))
        mp.setenv("SPARK_GRAFT_CPUS", os.environ.get("SPARK_GRAFT_CPUS", "2"))
        s = get_spark(app_name="perfbench-test", extra_conf={
            "spark.ui.showConsoleProgress": "false", "spark.sql.maxMetadataStringLength": "100000"})
        ship_package(s)
        yield s
        s.stop()


def _traced(spark, fn):
    reader = StatusReader(spark)
    t0 = time.perf_counter()
    fn()
    wall_ms = (time.perf_counter() - t0) * 1e3
    return reader.executions(), wall_ms


def test_pages_pipeline_counts(spark, tmp_path):
    """One input file, so one write task: one file per (day, route)."""
    import pyarrow.parquet as pq

    from beholder_spark import fixtures
    from beholder_spark.pipeline import run_pages_pipeline

    n = 300
    pages, lookup = fixtures.gen_pages(n, seed=5), fixtures.gen_host_lookup(seed=5)
    os.makedirs(tmp_path / "pages")
    pq.write_table(pages, tmp_path / "pages" / "part-0.parquet")
    pq.write_table(lookup, tmp_path / "lookup.parquet")
    category = dict(zip(lookup.column("host").to_pylist(), lookup.column("category").to_pylist()))
    partitions = {
        (ts.date(), bench._pages_route(text, category.get(url.split("/")[2]), lang))
        for url, ts, text, lang in zip(*(pages.column(c).to_pylist() for c in ("url", "warc_ts", "text", "lang")))
    }

    pages_dir = str(tmp_path / "pages")
    execs, wall_ms = _traced(spark, lambda: run_pages_pipeline(
        spark, pages_dir, str(tmp_path / "lookup.parquet"), str(tmp_path / "out")))
    lm = layer_metrics(execs, pages_dir, n, wall_ms)

    assert lm["textextract.udf_rows_per_doc"] == 1.0
    assert lm["sources.rows"] == n
    assert lm["sinks.files"] == len(partitions)
    # two stage-less parquet schema reads, the routed write, the manifest
    # and lineage appends, the aggregate write
    assert lm["spark.sql_executions"] == 6
    assert lm["lineage.bookkeeping_actions"] == 2
    assert lm["aggregate.rows_in"] == n
    assert lm["config.sink_actions"] == 1
    assert lm["parse.udf_rows_per_line"] == 0
    # measured times only: the residuals (writer, driver) are left out
    assert 0 < lm["trace.accounted_share"] < 1
    assert lm["spark.driver_ms"] > 0


def test_syslog_config_counts(spark, tmp_path):
    """Each of the three sinks runs the parse UDF over every line for its
    route filter and again over its own slice: 3 + 1 = 4 rows per line."""
    import pyarrow.parquet as pq

    from beholder_spark import fixtures
    from beholder_spark.config import run_config_pipeline

    n = 400
    lines = fixtures.gen_loglines(n, seed=5)
    os.makedirs(tmp_path / "lines")
    pq.write_table(
        lines.select(["line_id", "raw"]).rename_columns(["line_id", "payload"]),
        tmp_path / "lines" / "part-0.parquet",
    )
    sev = lines.column("expected_severity").to_pylist()
    host = lines.column("expected_host").to_pylist()
    program = lines.column("expected_program").to_pylist()
    alert = {h for h, s in zip(host, sev) if s in ("0", "1", "2", "3")}
    warn = {p for p, s in zip(program, sev) if s in ("4", "5")}
    rest = {h for h, s in zip(host, sev) if s not in ("0", "1", "2", "3", "4", "5")}

    lines_dir = str(tmp_path / "lines")
    config = bench.SYSLOG_CONFIG.format(src=lines_dir)
    jsc = spark.sparkContext._jsc.sc()
    with bench.PeakSampler(lambda: bench._cached_mb(jsc), 0.05) as cache:
        execs, wall_ms = _traced(spark, lambda: run_config_pipeline(spark, None, config, str(tmp_path / "out")))
    lm = layer_metrics(execs, lines_dir, n, wall_ms)

    assert lm["parse.udf_rows_per_line"] == 4.0
    assert lm["config.sink_actions"] == 3
    assert lm["sinks.files"] == len(alert) + len(warn) + len(rest)
    assert lm["spark.sql_executions"] == 3
    assert lm["textextract.udf_rows_per_doc"] == 0
    assert lm.get("lineage.bookkeeping_actions", 0) == 0
    assert cache.peak > 0  # the source the pipeline persists for its sinks
