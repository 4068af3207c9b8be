"""The driver records BENCH_r{N}.json by tail-capturing the LAST 2000
chars of bench.py stdout and parsing a JSON line out of them. Round 4's
single fat line (per-query min/median/runs tables) overflowed that
window → "parsed": null. These tests pin the two-line contract: full
record first, compact parseable headline LAST and under budget."""

import json

import bench


def _full(n_queries: int, name_len: int = 30) -> dict:
    qtimes = {f"q{'x' * name_len}{i:03d}": 12.345 for i in range(n_queries)}
    return {
        "metric": "e2e parse→enrich→route→aggregate throughput",
        "value": 464017.3,
        "unit": "docs/sec",
        "pipeline_sec": 18.62,
        "pipeline_runs_sec": [18.62, 20.1, 23.4],
        "pipeline_docs": 8_640_000,
        "queries": qtimes,
        "queries_detail": {
            k: {"min": v, "median": v, "runs": [v] * 3}
            for k, v in qtimes.items()
        },
        "sf": 0.1,
    }


def test_last_line_parses_inside_tail_window():
    full = _full(26)
    lines = bench.format_output_lines(full)
    assert len(lines) == 2
    # first line is the full record, round-trippable
    assert json.loads(lines[0])["queries_detail"]
    last = lines[1]
    assert len(last) <= bench.TAIL_BUDGET_CHARS
    parsed = json.loads(last)
    assert parsed["value"] == full["value"]
    assert parsed["unit"] == "docs/sec"
    assert parsed["pipeline_sec"] == full["pipeline_sec"]
    assert "queries_detail" not in parsed  # the r4 overflow source
    assert parsed["queries"]  # scalar table still fits at today's size
    # the driver's exact failure mode: simulate its 2000-char tail capture
    tail = "\n".join(lines)[-2000:]
    recovered = [ln for ln in tail.splitlines() if ln.startswith("{")][-1]
    assert json.loads(recovered)["value"] == full["value"]


def test_query_table_dropped_before_overflow():
    # a future registry 10x today's size must shed the table, not the line
    full = _full(200, name_len=40)
    last = bench.format_output_lines(full)[1]
    assert len(last) <= bench.TAIL_BUDGET_CHARS
    parsed = json.loads(last)
    assert "queries" not in parsed
    assert parsed["value"] == full["value"]
