"""Beholder config-language front end: tokenize → parse → compile → run.

Mirrors the reference's config-parser test style (SURVEY.md §5.1): feed a
config snippet plus synthetic messages, assert the resulting field map /
routing / sink contents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beholder_spark import config as C


# ---------------------------------------------------------------------------
# tokenizer / parser
# ---------------------------------------------------------------------------


def test_tokenize_kinds():
    toks = C.tokenize("set $f 'a {$b} c' ~re~ { } ; # comment\nword")
    kinds = [(t.kind, t.value) for t in toks]
    assert kinds == [
        ("word", "set"),
        ("word", "$f"),
        ("quoted", "a {$b} c"),
        ("regex", "re"),
        ("brace", "{"),
        ("brace", "}"),
        ("brace", ";"),
        ("word", "word"),
    ]


def test_tokenize_escapes():
    toks = C.tokenize(r"set $f 'it\'s' ~a\~b~;")
    assert toks[2].value == "it's"
    assert toks[3].value == "a~b"


def test_parse_nested_blocks():
    cmds = C.parse_config("flow { switch $x { case ~a~ { drop; } default { } } to file 'p'; }")
    assert cmds[0].name == "flow"
    sw = cmds[0].block[0]
    assert sw.name == "switch" and sw.block[0].name == "case"
    assert sw.block[0].block[0].name == "drop"
    assert cmds[0].block[1].name == "to"


def test_parse_unbalanced_raises():
    with pytest.raises(C.ConfigError):
        C.parse_config("flow {")
    with pytest.raises(C.ConfigError):
        C.parse_config("}")


# ---------------------------------------------------------------------------
# compile + run
# ---------------------------------------------------------------------------


@pytest.fixture()
def messages(spark):
    rows = [
        ("<13>Oct 11 22:14:15 host1 app[42]: hello world", "en"),
        ("<13>Oct 11 22:14:16 host2 db: query ran", "de"),
        ("not syslog at all", "en"),
        ("<99999>bad pri", "fr"),
    ]
    return spark.createDataFrame(rows, ["payload", "lang"])


def test_config_parse_set_keep(spark, messages):
    cfg = """
    parse syslog keep-unparsed;
    set $tag '{$host}/{$program}';
    keep $tag $severity $parse_ok $lang;
    """
    out = C.compile_config(cfg)(messages)
    assert set(out.columns) == {"tag", "severity", "parse_ok", "lang"}
    rows = {r.tag: r for r in out.collect()}
    assert rows["host1/app"].severity == "5"
    assert rows["host2/db"].parse_ok is True
    # unparseable rows kept with NULL fields (keep-unparsed SPEC)
    assert None not in rows and len(rows) == 3  # two parsed + joint "/" for unparsed
    assert rows["/"].parse_ok is False


def test_config_switch_first_match_and_quarantine(spark, messages):
    cfg = """
    switch '{$lang}' {
      case ~en~ { set $sink 'english'; }
      case ~en|de~ { set $sink 'germanic'; }
    }
    """
    out = C.compile_config(cfg)(messages)
    got = {r.lang: (r.route, r.sink) for r in out.select("lang", "route", "sink").distinct().collect()}
    assert got["en"] == ("case_1", "english")  # first match wins
    assert got["de"] == ("case_2", "germanic")
    assert got["fr"] == ("_unmatched", None)  # no default → quarantined, not dropped


def test_config_case_capture_named_groups(spark):
    """R2: a case regex's named groups become fields on matched rows."""
    df = spark.createDataFrame(
        [("GET /a.html 200",), ("POST /b.json 500",), ("garbage",)], ["payload"]
    )
    cfg = "switch '{$payload}' { case ~^(?<verb>GET|POST) (?<path>\\S+)~ { } }"
    out = C.compile_config(cfg)(df)
    rows = {r.payload: (r.route, r.verb, r.path) for r in out.collect()}
    assert rows["GET /a.html 200"] == ("case_1", "GET", "/a.html")
    assert rows["POST /b.json 500"] == ("case_1", "POST", "/b.json")
    assert rows["garbage"] == ("_unmatched", None, None)


def test_config_case_drop(spark, messages):
    cfg = """
    switch '{$lang}' {
      case ~fr~ { drop; }
      default { }
    }
    """
    out = C.compile_config(cfg)(messages)
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en", "de"}


def test_config_sink_fanout(spark, messages, tmp_path):
    cfg = """
    parse syslog keep-unparsed;
    switch '{$lang}' {
      case ~en~ { to file '/logs/en/{$host}.log'; }
      default { to file '/logs/rest.log'; }
    }
    """
    res = C.run_config_pipeline(spark, messages, cfg, str(tmp_path / "out"))
    assert len(res) == 2
    en = res["sink_0"]
    assert {r.route for r in en.select("route").distinct().collect()} == {"case_1"}
    # field-templated path became a partition column
    assert "host" in en.columns
    rest = res["sink_1"]
    assert {r.route for r in rest.select("route").distinct().collect()} == {"default"}


def test_config_parse_regexp_and_json(spark):
    df = spark.createDataFrame(
        [('{"a": 1, "b": "x"}', "k=v1"), ('{"a": 2, "b": "y"}', "k=v2")],
        ["payload", "kv"],
    )
    out = C.compile_config("parse json $payload a:long b:string;")(df)
    assert {r.a for r in out.collect()} == {1, 2}

    # parse regexp operates on $payload (Beholder semantics)
    out2 = C.compile_config('parse regexp ~"b": "(\\w)"~ $val:1;')(df)
    assert {r.val for r in out2.collect()} == {"x", "y"}


def test_config_set_replace_and_drop_if(spark):
    df = spark.createDataFrame([("a-b", "x"), ("c-d", "drop me")], ["s", "flag"])
    cfg = """
    set $s2 replace ~-~ '_' in $s;
    drop if $flag == 'drop me';
    """
    out = C.compile_config(cfg)(df)
    assert [r.s2 for r in out.collect()] == ["a_b"]


def test_config_join_subflow_union(spark, messages, tmp_path):
    side_path = str(tmp_path / "side")
    spark.createDataFrame([("extra line", "sv")], ["payload", "lang"]).write.parquet(side_path)
    cfg = f"""
    join {{ from parquet '{side_path}'; set $joined 'yes'; }}
    """
    out = C.compile_config(cfg)(messages)
    assert out.count() == messages.count() + 1
    assert out.filter(F.col("joined") == "yes").count() == 1
    # main-flow rows carry NULL for the subflow-only field
    assert out.filter(F.col("joined").isNull()).count() == messages.count()


def test_config_tee_collects_sink_without_affecting_flow(spark, messages, tmp_path):
    cfg = """
    tee { keep $lang; to file '/copy.log'; }
    set $seen 'yes';
    """
    compiled = C.compile_config(cfg)
    out = compiled(messages)
    # tee's keep did not project the main flow
    assert "payload" in out.columns and out.select("seen").first().seen == "yes"
    assert len(compiled.sinks) == 1
    # the sink captured the TEE block's frame (only $lang), not the final
    # flow — later `set $seen` does not retroactively appear in the sink
    assert compiled.sinks[0]["df"].columns == ["lang"]
    # re-applying the compiled config does not duplicate sink specs
    compiled(messages)
    assert len(compiled.sinks) == 1


def test_config_sink_captures_before_case_drop(spark, messages, tmp_path):
    """`case { to file; drop; }` writes the route's rows, THEN discards
    them from the flow (Beholder command order)."""
    cfg = """
    switch '{$lang}' {
      case ~en~ { to file '/en.log'; drop; }
      default { }
    }
    """
    compiled = C.compile_config(cfg)
    out = compiled(messages)
    assert out.filter(F.col("route") == "case_1").count() == 0  # dropped from flow
    assert compiled.sinks[0]["df"].count() == 2  # but the sink kept them


def test_config_drop_if_keeps_null_fields(spark):
    df = spark.createDataFrame([("a", "spam"), ("b", None), ("c", "ok")], ["s", "flag"])
    out = C.compile_config("drop if $flag == 'spam';")(df)
    assert {r.s for r in out.collect()} == {"b", "c"}  # NULL flag KEPT


def test_config_set_date_requires_column(spark):
    df = spark.createDataFrame([("a",)], ["s"])
    with pytest.raises(C.ConfigError):
        C.compile_config("set $f date;")(df)


def test_config_drop_if_rejects_unsupported_operator(spark):
    with pytest.raises(C.ConfigError, match="only == and !="):
        C.compile_config("drop if $status >= '500';")(
            spark.createDataFrame([("200",)], ["status"])
        )


def test_config_two_cases_capture_same_group(spark):
    """A later case capturing the same named group must not NULL out the
    earlier case's captured values (preserve-existing semantics)."""
    df = spark.createDataFrame(
        [("login user=alice",), ("logout user=bob",), ("noise",)], ["payload"]
    )
    cfg = """
    switch '{$payload}' {
      case ~^login user=(?<user>\\w+)~ { }
      case ~^logout user=(?<user>\\w+)~ { }
    }
    """
    out = C.compile_config(cfg)(df)
    got = {r.payload.split(" ")[0]: r.user for r in out.collect()}
    assert got["login"] == "alice"  # not clobbered by case_2's otherwise
    assert got["logout"] == "bob"
    assert got["noise"] is None


def test_config_parse_syslog_keeps_raw_payload_on_failure(spark, messages):
    """P7 via the config front end: the source column IS payload, so an
    unparseable row must keep the original line in payload (pass through
    unchanged), not NULL it into unrecoverability."""
    out = C.compile_config("parse syslog keep-unparsed;")(messages)
    rows = {r.lang: r for r in out.collect()}
    assert rows["fr"].parse_ok is False
    assert rows["fr"].payload == "<99999>bad pri"  # raw line survives
    assert rows["de"].payload == "query ran"  # parsed rows get the body


def test_config_set_env_literal(spark, monkeypatch):
    monkeypatch.setenv("BEHOLDER_TEST_DC", "eu-west")
    out = C.compile_config("set $dc env BEHOLDER_TEST_DC;")(
        spark.createDataFrame([("x",)], ["payload"])
    )
    assert out.first().dc == "eu-west"
    # missing var → quoted default
    out2 = C.compile_config("set $dc env NO_SUCH_VAR_SET 'fallback';")(
        spark.createDataFrame([("x",)], ["payload"])
    )
    assert out2.first().dc == "fallback"


def test_config_each_field_as_message(spark):
    df = spark.createDataFrame([(1, "a", 10)], ["id", "x", "y"])
    # listed fields explode; unlisted columns ride along as identity
    out = C.compile_config("parse each-field-as-message $x $y;")(df)
    got = {(r.id, r.key, r.value) for r in out.collect()}
    assert got == {(1, "x", "a"), (1, "y", "10")}
    # bare form: every column becomes a (key, value) message
    out2 = C.compile_config("parse each-field-as-message;")(df)
    assert {(r.key, r.value) for r in out2.collect()} == {("id", "1"), ("x", "a"), ("y", "10")}


def test_config_self_sourcing_from_text(spark, tmp_path):
    """`from text '<path>'` at top level makes the config name its own
    scan — the whole job from config text alone (df=None)."""
    lines_path = str(tmp_path / "lines")
    spark.createDataFrame(
        [("<13>Oct 11 22:14:15 h1 app[1]: ok",), ("garbage",)], ["value"]
    ).coalesce(1).write.mode("overwrite").text(lines_path)
    cfg = f"""
    from text '{lines_path}';
    parse syslog keep-unparsed;
    """
    out = C.compile_config(cfg)(None, spark=spark)
    rows = sorted((r.parse_ok, r.payload) for r in out.collect())
    assert rows == [(False, "garbage"), (True, "ok")]
    # and without spark it's a compile-time error
    with pytest.raises(C.ConfigError, match="self-sourcing"):
        C.compile_config(cfg)(None)


def test_config_buffer_bounds_rows_per_file(spark, tmp_path):
    """`buffer N` (K5) maps to maxRecordsPerFile on later sinks: a
    100-row single-partition write lands in ≥10 files of ≤10 rows."""
    import glob

    df = spark.range(100).selectExpr("CAST(id AS STRING) AS payload").coalesce(1)
    res = C.run_config_pipeline(
        spark, df, "buffer 10; to file 'out';", str(tmp_path / "o")
    )
    assert res["sink_0"].count() == 100
    files = glob.glob(str(tmp_path / "o" / "sink_0" / "part-*.parquet"))
    assert len(files) >= 10
    # without buffer: one partition → one file
    res2 = C.run_config_pipeline(spark, df, "to file 'out';", str(tmp_path / "o2"))
    assert res2["sink_0"].count() == 100
    assert len(glob.glob(str(tmp_path / "o2" / "sink_0" / "part-*.parquet"))) == 1


def _part_files(root) -> dict[str, list[str]]:
    """Leaf directory (relative to ``root``) → its ``part-*`` files."""
    import os

    out: dict[str, list[str]] = {}
    for d, _, names in os.walk(root):
        parts = sorted(os.path.join(d, n) for n in names if n.startswith("part-"))
        if parts:
            out[os.path.relpath(d, root)] = parts
    return out


def _hosts_programs(spark, n, hot_share=0.0):
    """``n`` rows (id, host, program, sev, payload) over ``repartition(4)``:
    every task touches every directory. ``hot_share`` of the rows get
    host ``hot``; a few get a NULL host."""
    hot = int(n * hot_share)
    return spark.range(n).selectExpr(
        "id",
        f"CASE WHEN id < {hot} THEN 'hot' WHEN id % 97 = 5 THEN NULL "
        "ELSE concat('h', CAST(id % 7 AS STRING)) END AS host",
        "concat('p', CAST(id % 5 AS STRING)) AS program",
        "CAST(id % 3 AS STRING) AS sev",
        "md5(CAST(id AS STRING)) AS payload",
    ).repartition(4)


_LAYOUT_CFG = """
switch $sev {
  case ~^0$~ { to file 'a/{$host}'; }
  default { to file 'b/{$program}'; }
}
"""


def test_config_templated_sink_one_file_per_directory(spark, tmp_path):
    """A field-templated sink is clustered by its path fields before the
    write: a 4-partition input lands as ONE file per leaf directory, and
    its rows equal the same config's rows over a 1-partition input."""
    df = _hosts_programs(spark, 600)
    res = C.run_config_pipeline(spark, df, _LAYOUT_CFG, str(tmp_path / "o"))
    ref = C.run_config_pipeline(spark, df.coalesce(1), _LAYOUT_CFG, str(tmp_path / "ref"))
    for i, field, n_dirs in ((0, "host", 8), (1, "program", 5)):
        layout = _part_files(tmp_path / "o" / f"sink_{i}")
        assert len(layout) == n_dirs
        assert all(d.startswith(f"{field}=") for d in layout)
        assert {d: len(f) for d, f in layout.items()} == {d: 1 for d in layout}
        cols = sorted(res[f"sink_{i}"].columns)
        got, want = (r[f"sink_{i}"].select(cols).orderBy("id").collect() for r in (res, ref))
        assert got == want and len(got) == 200 * (i + 1)


def test_config_buffer_bounds_rows_per_file_on_templated_sink(spark, tmp_path):
    """`buffer N` still caps every file at N rows once the sink is
    clustered by its path fields, and each row lands exactly once."""
    import pyarrow.parquet as pq

    df = _hosts_programs(spark, 300)
    C.run_config_pipeline(spark, df, "buffer 10; to file 'x/{$host}';", str(tmp_path / "o"))
    ids = []
    for files in _part_files(tmp_path / "o" / "sink_0").values():
        for f in files:
            t = pq.read_table(f)
            assert t.num_rows <= 10
            ids += t.column("id").to_pylist()
    assert sorted(ids) == list(range(300))


def test_config_templated_sink_null_field_one_file(spark, tmp_path):
    """A NULL path-field value lands in exactly one file under Hive's
    default partition directory."""
    import pyarrow.parquet as pq

    df = _hosts_programs(spark, 600)
    want = sorted(r.id for r in df.filter("host IS NULL").select("id").collect())
    assert len(want) > 4
    C.run_config_pipeline(spark, df, "to file 'x/{$host}';", str(tmp_path / "o"))
    files = _part_files(tmp_path / "o" / "sink_0")["host=__HIVE_DEFAULT_PARTITION__"]
    assert len(files) == 1
    assert sorted(pq.read_table(files[0]).column("id").to_pylist()) == want


def test_config_templated_sink_splits_skewed_directory(spark, tmp_path):
    """Scale safety of REBALANCE over ``repartition(cols)``: when one path
    value holds ≥90% of the rows and its shuffle partition exceeds the
    advisory size, AQE splits it, so that directory is written as more
    than one file — and each row still lands exactly once."""
    import pyarrow.parquet as pq

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "4k")
    try:
        n = 4000
        df = _hosts_programs(spark, n, hot_share=0.92)
        C.run_config_pipeline(spark, df, "to file 'x/{$host}';", str(tmp_path / "o"))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    layout = _part_files(tmp_path / "o" / "sink_0")
    assert len(layout["host=hot"]) > 1
    ids = [i for files in layout.values() for f in files for i in pq.read_table(f).column("id").to_pylist()]
    assert sorted(ids) == list(range(n))


def test_config_dry_run_validates_without_writing(spark, tmp_path):
    """dry_run ≡ beholder --test: plans are analyzed, nothing written."""
    import os

    df = spark.createDataFrame([("x", "en")], ["payload", "lang"])
    out_root = str(tmp_path / "dry")
    res = C.run_config_pipeline(
        spark, df, "set $tag '{$lang}'; to file 'sink';", out_root, dry_run=True
    )
    assert set(res) == {"sink_0"}
    assert not os.path.exists(out_root)  # nothing executed
    # a config referencing a missing column fails AT dry-run time
    with pytest.raises(Exception):
        C.run_config_pipeline(
            spark, df, "set $tag '{$no_such_col}'; to file 's';", out_root, dry_run=True
        )


def test_config_to_stdout_debug_sink(spark, tmp_path, capsys):
    """K1 `to stdout`: rows print at execution; the flow is unaffected."""
    df = spark.createDataFrame([("hello-stdout-row", "en")], ["payload", "lang"])
    res = C.run_config_pipeline(spark, df, "to stdout; keep $lang; to file 'f';", str(tmp_path / "o"))
    assert res["sink_0"].columns == ["payload", "lang"]  # captured pre-keep
    assert res["sink_1"].columns == ["lang"]
    assert "hello-stdout-row" in capsys.readouterr().out


@pytest.mark.parametrize("kind", ["udp", "tcp"])
def test_config_to_udp_sink(spark, tmp_path, kind):
    """K3 `to udp|tcp 'host:port'` in config text: rows are sent from the
    executors (one datagram per row, or newline-framed over one TCP
    connection per partition); the flow continues past the sink."""
    import socket
    import threading

    lines_box, port_box = [], []
    ready, stop = threading.Event(), threading.Event()

    def recv_udp():
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind(("127.0.0.1", 0))
        sock.settimeout(0.5)
        port_box.append(sock.getsockname()[1])
        ready.set()
        while not stop.is_set():
            try:
                data, _ = sock.recvfrom(65536)
            except TimeoutError:
                continue
            lines_box.append(data.decode())
        sock.close()

    def recv_tcp():
        # one connection per partition; each stream is newline-framed
        with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as srv:
            srv.bind(("127.0.0.1", 0))
            srv.listen(16)
            srv.settimeout(0.5)
            port_box.append(srv.getsockname()[1])
            ready.set()
            while not stop.is_set():
                try:
                    conn, _ = srv.accept()
                except TimeoutError:
                    continue
                buf = b""
                with conn:
                    conn.settimeout(10)
                    while chunk := conn.recv(65536):
                        buf += chunk
                lines_box.extend(buf.decode().split("\n")[:-1])

    t = threading.Thread(target=recv_udp if kind == "udp" else recv_tcp, daemon=True)
    t.start()
    assert ready.wait(10)

    df = spark.createDataFrame([(f"{kind} line {i}", "en") for i in range(20)], ["payload", "lang"])
    res = C.run_config_pipeline(
        spark, df, f"to {kind} '127.0.0.1:{port_box[0]}'; to file 'f';", str(tmp_path / "o")
    )
    import time as _time

    _time.sleep(1)
    stop.set()
    t.join(10)
    assert sorted(lines_box) == sorted(f"{kind} line {i}" for i in range(20))
    assert res["sink_1"].count() == 20  # flow unaffected


def test_config_to_tcp_bad_address_rejected(spark):
    df = spark.createDataFrame([("x",)], ["payload"])

    def compile_addr(cfg):
        return C.run_config_pipeline(spark, df, cfg, "/tmp/unused", dry_run=True)

    with pytest.raises(C.ConfigError, match="host:port"):
        compile_addr("to tcp 'nope';")
    # regression (ADVICE r2): out-of-range port and raw-IPv6 ambiguity must
    # fail at COMPILE time, not inside executor send tasks
    with pytest.raises(C.ConfigError, match="1–65535"):
        compile_addr("to tcp 'host:99999';")
    with pytest.raises(C.ConfigError, match="1–65535"):
        compile_addr("to udp 'host:0';")
    with pytest.raises(C.ConfigError, match="bracket IPv6"):
        compile_addr("to tcp '::1:514';")
    # bracketed IPv6 literal is accepted
    compile_addr("to tcp '[::1]:514';")


def test_config_streaming_daemon_mode(spark, tmp_path):
    """A reference user's config runs as a STREAM (daemon parity): same
    command tree, streaming input, manifested exactly-once sink — result
    rows equal the batch run of the identical config."""
    from beholder_spark.plans import lineage as ln

    cfg = "parse syslog keep-unparsed; set $tag '{$host}/{$program}'; keep $tag $severity $parse_ok;"
    lines = [f"<{(i * 5) % 64}>1 2026-02-01T00:00:0{i % 10}Z host{i % 3} prog{i % 2} - - - m{i}" for i in range(60)]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame([(ln_,) for ln_ in lines], ["payload"]).write.parquet(src_dir)

    stream = spark.readStream.schema("payload string").parquet(src_dir)
    q = C.run_config_stream(
        spark, stream, cfg, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = ln.read_stage(spark, str(tmp_path / "out"), "config_sink", "_batch")

    batch = C.compile_config(cfg)(spark.read.parquet(src_dir))
    assert sorted(got.drop("_batch").collect()) == sorted(batch.collect())
    assert got.count() == 60

    # non-file intermediate sinks are rejected up front (not
    # replay-idempotent under micro-batch retry)
    with pytest.raises(C.ConfigError, match="to file"):
        C.run_config_stream(
            spark, stream, "to stdout;", str(tmp_path / "out2"), str(tmp_path / "ck2")
        )
    # `buffer N` (maxRecordsPerFile) is batch-only: the manifested stream
    # stages write without it, so the runner rejects it instead of ignoring it
    with pytest.raises(C.ConfigError, match="buffer"):
        C.run_config_stream(
            spark, stream, "buffer 10; to file 'side';", str(tmp_path / "out3"),
            str(tmp_path / "ck3"),
        )


def test_config_stream_keeps_caller_session_active(spark, tmp_path):
    """A micro-batch's manifest appends run on the caller's session, not
    the stream's clone: after a streamed batch ``get_spark()`` still
    returns the caller's session (where ``main`` lists its queries)."""
    from beholder_spark.plans import lineage as ln
    from beholder_spark.session import get_spark

    src_dir = str(tmp_path / "src")
    spark.range(10).selectExpr("CAST(id AS STRING) AS payload").write.parquet(src_dir)
    stream = spark.readStream.schema("payload string").parquet(src_dir)
    q = C.run_config_stream(spark, stream, "", str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert ln.read_stage(spark, str(tmp_path / "out"), "config_sink", "_batch").count() == 10
    assert get_spark() is spark


def test_config_from_udp_compile_errors(spark, tmp_path):
    from beholder_spark.__main__ import main

    with pytest.raises(C.ConfigError, match="spool"):
        C.compile_config("from udp 5140;")(None, spark=spark)
    with pytest.raises(C.ConfigError, match="out of range"):
        C.compile_config("from udp 99999 spool '/tmp/x';")(None, spark=spark)
    # a daemon needs a listener source (`from udp`/`from tcp`) or --pages
    conf = tmp_path / "timer.conf"
    conf.write_text("from timer 5;")
    with pytest.raises(SystemExit):
        main(["--daemon", "--config", str(conf), "--out", str(tmp_path / "o")])
    # streaming sources through the BATCH runner fail with a front-end
    # error, not Spark's raw writeStream AnalysisException
    with pytest.raises(C.ConfigError, match="streaming sources"):
        C.run_config_pipeline(
            spark, None, "from udp 0 spool '/tmp/spx'; to file 'y';", "/tmp/ux", dry_run=True
        )


def test_config_hot_reload_swaps_pipeline(spark, tmp_path):
    """SIGHUP parity (SURVEY §3.1): rewriting the config mid-stream swaps
    the pipeline at a micro-batch boundary — post-swap rows use the NEW
    config, pre-swap rows are neither lost nor duplicated — and a BROKEN
    rewrite keeps the old pipeline running untouched."""
    import time

    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")

    def wave(lo, hi):
        rows = [(f"<13>1 2026-04-01T00:00:00Z h p - - - w{i}",) for i in range(lo, hi)]
        spark.createDataFrame(rows, ["payload"]).coalesce(1).write.mode("append").parquet(src_dir)

    cfg = tmp_path / "beholder.conf"
    cfg.write_text("parse syslog keep-unparsed; set $ver 'v1'; keep $ver $severity $parse_ok;")
    wave(0, 30)

    sup = C.ConfigStreamSupervisor(
        spark,
        str(cfg),
        lambda: spark.readStream.schema("payload string").parquet(src_dir),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    ).start()
    try:

        def counts():
            try:
                df = ln.read_stage(spark, str(tmp_path / "out"), "config_sink", "_batch")
                return {r["ver"]: r["n"] for r in df.groupBy("ver").agg(F.count(F.lit(1)).alias("n")).collect()}
            except Exception:
                return {}

        deadline = time.monotonic() + 90
        while counts().get("v1", 0) < 30 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert counts() == {"v1": 30}

        # broken rewrite: reload refuses the swap, old pipeline keeps running
        gen = sup.generation
        cfg.write_text("parse syslog keep-unparsed; set $ver bogusfn $x; keep $ver;")
        assert sup.reload() is False
        assert isinstance(sup.last_error, C.ConfigError)
        assert sup.generation == gen and sup.query.isActive

        # batch-only rewrite (non-file sink): valid batch config, but the
        # streaming runner rejects it — reload must refuse BEFORE stopping
        # the old query (regression: the old dry pass missed the sink
        # check and killed the pipeline)
        cfg.write_text("parse syslog keep-unparsed; to stdout;")
        assert sup.reload() is False
        assert isinstance(sup.last_error, C.ConfigError)
        assert sup.generation == gen and sup.query.isActive
        # same for a buffered file sink: the runner rejects `buffer N`
        cfg.write_text("parse syslog keep-unparsed; buffer 10; to file 'side';")
        assert sup.reload() is False
        assert isinstance(sup.last_error, C.ConfigError) and "buffer" in str(sup.last_error)
        assert sup.generation == gen and sup.query.isActive

        # good rewrite: atomic swap on the SAME checkpoint + manifested sink
        cfg.write_text("parse syslog keep-unparsed; set $ver 'v2'; keep $ver $severity $parse_ok;")
        assert sup.reload() is True
        assert sup.generation == gen + 1 and sup.last_error is None
        wave(30, 50)
        deadline = time.monotonic() + 90
        while counts().get("v2", 0) < 20 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert counts() == {"v1": 30, "v2": 20}  # exactly-once across the swap
    finally:
        sup.stop()


def test_config_poll_reloads_on_mtime_or_hup(tmp_path):
    """poll() reloads when the config's mtime moved since start() or the
    last poll, or when the SIGHUP flag ``hup`` is set — and does NOT
    churn while the file is unchanged. No thread, no Spark."""
    import os

    cfg = tmp_path / "c.conf"
    cfg.write_text("keep $a;")
    sup = C.ConfigStreamSupervisor(None, str(cfg), None, "", "")
    calls = []

    def reload():
        calls.append(1)
        sup.hup = False
        return True

    sup._start_query = lambda text: None
    sup.reload = reload
    sup.start()
    assert sup.poll() is False and not calls  # unchanged file: no reload churn
    st = cfg.stat()
    os.utime(cfg, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert sup.poll() is True and calls == [1]  # mtime moved → reload
    assert sup.poll() is False and calls == [1]  # the baseline follows it
    sup.hup = True
    assert sup.poll() is True and calls == [1, 1]  # SIGHUP flag → reload
    assert sup.poll() is False and calls == [1, 1]
    # a config unlinked mid-deploy: poll() waits for it, and a real
    # reload whose read loses that race is refused, not raised
    del sup.reload
    cfg.unlink()
    sup.hup = True
    assert sup.poll() is False and sup.hup
    assert sup.reload() is False and isinstance(sup.last_error, FileNotFoundError)


def test_config_parse_fieldpack(spark):
    """P4 via the config front end: listed fields project to columns;
    bare form keeps the dynamic map."""
    from beholder_spark.operators import parse as P

    msgs = [{"host": f"h{i}", "msg": f"m{i}"} for i in range(5)]
    df = spark.createDataFrame(
        [(bytearray(P.fieldpack_pack(m)),) for m in msgs], "payload binary"
    )
    out = C.compile_config("parse fieldpack $host $msg;")(df)
    assert sorted((r.host, r.msg) for r in out.collect()) == [(f"h{i}", f"m{i}") for i in range(5)]
    bare = C.compile_config("parse fieldpack keep-unparsed;")(df)
    assert bare.select("fields").first().fields == {"host": "h0", "msg": "m0"}


def test_config_to_shell_sink(spark, tmp_path):
    """K4 `to shell 'cmd'`: partition rows stream newline-framed into the
    command's stdin on the executors; a failing command fails the job
    (never silent loss); missing/unquoted command fails at compile."""
    df = spark.createDataFrame([(f"line{i}",) for i in range(20)], ["payload"]).coalesce(1)
    out = tmp_path / "shell_out.txt"
    C.run_config_pipeline(spark, df, f"to shell 'cat >> {out}';", str(tmp_path / "o"))
    assert sorted(out.read_text().splitlines()) == sorted(f"line{i}" for i in range(20))

    with pytest.raises(Exception):
        C.run_config_pipeline(spark, df, "to shell 'exit 3';", str(tmp_path / "o2"))
    with pytest.raises(C.ConfigError, match="quoted command"):
        C.run_config_pipeline(spark, df, "to shell;", str(tmp_path / "o3"), dry_run=True)


def test_write_shell_parallel_partitions(spark, tmp_path):
    """K4 `to shell` over a multi-partition frame: one subprocess per
    partition in parallel ($$ gives each a distinct output file); the
    union of outputs is exactly the input rows."""
    d = tmp_path / "parts"
    d.mkdir()
    df = spark.createDataFrame([(f"r{i}",) for i in range(100)], ["payload"]).repartition(4)
    C.run_config_pipeline(spark, df, f"to shell 'cat > {d}/out.$$';", str(tmp_path / "o"))
    got = sorted(ln for f in d.iterdir() for ln in f.read_text().splitlines())
    assert got == sorted(f"r{i}" for i in range(100))


def _wait_query(session, secs: float = 60) -> None:
    """Block until the daemon's streaming query is active: the daemon
    starts its bridges first, so their ports are bound by then (a
    datagram sent before the bind is lost)."""
    import time

    deadline = time.monotonic() + secs
    while not session.streams.active:
        assert time.monotonic() < deadline, "daemon query never started"
        time.sleep(0.2)


def _run_daemon_cli(session, argv: list[str], traffic) -> int:
    """Run ``main(argv)`` on the pytest main thread, where the daemon
    installs its SIGTERM and SIGHUP handlers. A helper thread waits for
    the daemon's query, runs ``traffic`` and SIGTERMs this process in a
    ``finally``. A no-op handler around the call keeps a SIGTERM that
    lands after ``main`` returned from killing the test process.
    Re-raises the helper's failure; on a clean exit no query may outlive
    ``main`` and both signal handlers are back to what they were.
    ``session`` is the ``spark`` fixture: ``main``'s ``get_spark`` returns
    that same active session, where the daemon's query is listed."""
    import os
    import signal
    import threading

    from beholder_spark.__main__ import main

    errors: list[BaseException] = []

    def helper():
        try:
            _wait_query(session)
            traffic()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
        finally:
            os.kill(os.getpid(), signal.SIGTERM)

    prev = signal.signal(signal.SIGTERM, lambda *_: None)
    before = {sig: signal.getsignal(sig) for sig in (signal.SIGTERM, signal.SIGHUP)}
    t = threading.Thread(target=helper, daemon=True)
    t.start()
    try:
        rc = main(argv)
        after = {sig: signal.getsignal(sig) for sig in before}
    finally:
        t.join(120)
        signal.signal(signal.SIGTERM, prev)
    if errors:
        raise errors[0]
    assert not t.is_alive(), "traffic helper still running"
    assert not session.streams.active
    assert after == before, "main left a signal handler installed"
    return rc


def _free_port(kind) -> int:
    import socket

    probe = socket.socket(socket.AF_INET, kind)
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()
    return port


def _wait_rows(spark, out: str, n: int, secs: float = 60):
    """The manifested ``config_sink`` table once it holds ≥ n rows (or the
    deadline passes); None while the sink dir does not exist yet."""
    import time

    from beholder_spark.plans import lineage as ln

    deadline = time.monotonic() + secs
    while True:
        try:
            got = ln.read_stage(spark, out, "config_sink", "_batch")
            if got.count() >= n or time.monotonic() > deadline:
                return got
        except Exception:
            if time.monotonic() > deadline:
                return None
        time.sleep(0.5)


def _udp_daemon_conf(tmp_path):
    """A `from udp` daemon config on a free port: (port, spool dir, conf)."""
    import socket

    port = _free_port(socket.SOCK_DGRAM)
    spool = tmp_path / "spool"
    conf = tmp_path / "d.conf"
    conf.write_text(
        f"from udp {port} spool '{spool}';\n"
        "parse syslog keep-unparsed;\nkeep $severity $program $parse_ok;\n"
    )
    return port, spool, conf


def _send_udp(port: int, lo: int, hi: int) -> None:
    import socket

    cli = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for i in range(lo, hi):
        msg = f"<{i % 32}>1 2026-03-01T00:00:00Z h prog{i % 4} - - - d{i}"
        cli.sendto(msg.encode(), ("127.0.0.1", port))
    cli.close()


def test_config_from_udp_daemon(spark, tmp_path):
    """`from udp <port> spool '<dir>'` round-trip through `--daemon`: the
    entry point starts the datagram bridge AND the streaming pipeline;
    live datagrams land exactly-once in the manifested sink and KEEP
    landing (a second wave arrives after the first is committed) —
    daemon parity for the reference's primary transport."""
    port, _, conf = _udp_daemon_conf(tmp_path)
    out = str(tmp_path / "out")
    box = {}

    def traffic():
        _send_udp(port, 0, 30)
        box["first"] = _wait_rows(spark, out, 30).count()
        _send_udp(port, 30, 50)  # the daemon keeps ingesting after the first commit
        box["got"] = _wait_rows(spark, out, 50)

    rc = _run_daemon_cli(spark, ["--daemon", "--config", str(conf), "--out", out], traffic)
    assert rc == 0
    assert box["first"] == 30
    got = box["got"]
    assert got.count() == 50  # exactly-once: no loss, no duplicates
    assert got.filter("parse_ok").count() == 50
    assert got.select("program").distinct().count() == 4


def test_cli_daemon_udp(spark, tmp_path):
    """`python -m beholder_spark --daemon --config <conf>` with a `from
    udp` config: live datagrams land in the manifested sink, and SIGTERM
    drains a spool file that arrived just before it, then exits 0."""
    import os

    port, spool, conf = _udp_daemon_conf(tmp_path)
    out = str(tmp_path / "out")

    def traffic():
        _send_udp(port, 0, 15)
        assert _wait_rows(spark, out, 15).count() == 15
        # a complete spool file lands (hidden name → rename, as the bridge
        # writes) right before SIGTERM: the drain must still commit it
        tmp = spool / ".tmp-drain"
        tmp.write_text(
            "".join(f"<13>1 2026-03-01T00:00:01Z h drain - - - x{i}\n" for i in range(5))
        )
        os.rename(tmp, spool / "udp-drain.txt")

    rc = _run_daemon_cli(spark, ["--daemon", "--config", str(conf), "--out", out], traffic)
    assert rc == 0
    got = _wait_rows(spark, out, 20, secs=0)
    assert got.count() == 20
    assert got.filter("program = 'drain' AND parse_ok").count() == 5


def test_cli_daemon_sighup_reloads(spark, tmp_path, capsys):
    """SIGHUP reloads the CLI daemon from its main loop: the config is
    rewritten with its mtime kept (so only the signal can trigger the
    swap), the query restarts on the same checkpoint, and rows before and
    after the swap land exactly once under the old and the new config. A
    broken config sent first is refused, reported, and leaves the old
    query running."""
    import os
    import signal
    import socket
    import time

    port = _free_port(socket.SOCK_DGRAM)
    conf = tmp_path / "d.conf"
    text = (
        f"from udp {port} spool '{tmp_path / 'spool'}';\n"
        "parse syslog keep-unparsed;\nset $ver '{ver}';\nkeep $ver $severity $parse_ok;\n"
    )
    conf.write_text(text.replace("{ver}", "v1"))
    out = str(tmp_path / "out")
    box = {}

    def rewrite(new_text):  # new text, old mtime: only SIGHUP can reload it
        new = tmp_path / "d.conf.new"
        new.write_text(new_text)
        st = conf.stat()
        os.utime(new, ns=(st.st_atime_ns, st.st_mtime_ns))
        os.replace(new, conf)
        os.kill(os.getpid(), signal.SIGHUP)

    def traffic():
        _send_udp(port, 0, 10)
        assert _wait_rows(spark, out, 10).count() == 10
        run_id = spark.streams.active[0].runId
        rewrite(text.replace("{ver}", "v2") + "parse nonsense;\n")  # refused: v1 keeps running
        deadline = time.monotonic() + 60
        while "daemon: reload refused" not in box.setdefault("out", ""):
            assert time.monotonic() < deadline, "the refused reload was not reported"
            time.sleep(0.2)
            box["out"] += capsys.readouterr().out
        assert [q.runId for q in spark.streams.active] == [run_id]
        rewrite(text.replace("{ver}", "v2"))
        deadline = time.monotonic() + 60
        while not [q for q in spark.streams.active if q.runId != run_id]:
            assert time.monotonic() < deadline, "SIGHUP did not reload the daemon"
            time.sleep(0.2)
        _send_udp(port, 10, 18)
        got = _wait_rows(spark, out, 18)
        box["vers"] = {r.ver: r["count"] for r in got.groupBy("ver").count().collect()}

    rc = _run_daemon_cli(spark, ["--daemon", "--config", str(conf), "--out", out], traffic)
    assert rc == 0
    assert box["vers"] == {"v1": 10, "v2": 8}
    assert "daemon: reloaded" in box["out"] + capsys.readouterr().out


def test_cli_daemon_join_two_listeners(spark, tmp_path):
    """A sinkless daemon whose config joins a second listener (`join {
    from udp … }`, a stream union) starts both bridges and lands each
    one's datagrams exactly once."""
    import socket

    ports = [_free_port(socket.SOCK_DGRAM) for _ in range(2)]
    conf = tmp_path / "d.conf"
    conf.write_text(
        f"from udp {ports[0]} spool '{tmp_path / 'spool0'}';\n"
        f"join {{ from udp {ports[1]} spool '{tmp_path / 'spool1'}'; }}\n"
        "parse syslog keep-unparsed;\nkeep $source $program $parse_ok;\n"
    )
    out = str(tmp_path / "out")
    box = {}

    def traffic():
        _send_udp(ports[0], 0, 10)
        _send_udp(ports[1], 10, 16)
        got = _wait_rows(spark, out, 16)
        box["by_source"] = {r.source: r["count"] for r in got.groupBy("source").count().collect()}
        box["parsed"] = got.filter("parse_ok").count()

    rc = _run_daemon_cli(spark, ["--daemon", "--config", str(conf), "--out", out], traffic)
    assert rc == 0
    assert box["by_source"] == {f"udp://0.0.0.0:{ports[0]}": 10, f"udp://0.0.0.0:{ports[1]}": 6}
    assert box["parsed"] == 16


def _tcp_frame_daemon_conf(tmp_path):
    """A `from tcp … as syslog-frame` daemon config on a free port:
    (port, spool dir, conf)."""
    import socket

    port = _free_port(socket.SOCK_STREAM)
    spool = tmp_path / "spool"
    conf = tmp_path / "d.conf"
    conf.write_text(
        f"from tcp 127.0.0.1 {port} as syslog-frame spool '{spool}';\n"
        "parse syslog keep-unparsed;\nkeep $severity $program $payload $parse_ok;\n"
    )
    return port, spool, conf


def _send_frames(port: int, msgs: list[str]) -> None:
    """Send ``msgs`` as RFC6587 octet-counted frames on one connection."""
    import socket

    cli = socket.create_connection(("127.0.0.1", port))
    for m in msgs:
        b = m.encode()
        cli.sendall(str(len(b)).encode() + b" " + b)
    cli.close()


def test_cli_daemon_tcp_syslog_frame(spark, tmp_path):
    """CLI `--daemon` with a `from tcp … as syslog-frame` config: the
    RFC6587 frame bridge starts from the entry point (no --pages needed),
    octet-counted frames land in the manifested sink, and SIGTERM exits 0
    — full parity with the udp daemon path."""
    port, _, conf = _tcp_frame_daemon_conf(tmp_path)
    out = str(tmp_path / "out")
    msgs = [f"<{i % 16}>1 2026-05-02T00:00:00Z h p - - - cli tcp {i}" for i in range(12)]
    box = {}

    def traffic():
        _send_frames(port, msgs)
        box["got"] = _wait_rows(spark, out, len(msgs))

    rc = _run_daemon_cli(spark, ["--daemon", "--config", str(conf), "--out", out], traffic)
    assert rc == 0
    assert box["got"].count() == 12


def test_config_from_tcp_syslog_frame_daemon(spark, tmp_path):
    """`from tcp <host> <port> as syslog-frame spool '<dir>'`: the config
    declares the RFC6587 octet-counted TCP bridge and `--daemon` starts
    it; framed messages — including one with embedded newlines — land
    exactly-once in the manifested sink with the same rows as the batch
    engine."""
    from beholder_spark.sources import TcpSyslogFrameBridge

    port, spool, conf = _tcp_frame_daemon_conf(tmp_path)
    compiled = C.compile_config(conf.read_text())
    compiled(None, spark=spark)
    assert compiled.ingest == [
        (TcpSyslogFrameBridge, {"spool_dir": str(spool), "host": "127.0.0.1", "port": port})
    ]
    out = str(tmp_path / "out")
    msgs = [f"<{i % 24}>1 2026-03-02T00:00:00Z h prog{i % 3} - - - f{i}" for i in range(25)]
    msgs.append("<7>1 2026-03-02T00:00:01Z h prog1 - - - over\ntwo lines")
    box = {}

    def traffic():
        _send_frames(port, msgs)
        box["got"] = _wait_rows(spark, out, len(msgs))

    rc = _run_daemon_cli(spark, ["--daemon", "--config", str(conf), "--out", out], traffic)
    assert rc == 0
    got = box["got"]
    assert got.count() == len(msgs)  # exactly-once
    assert sorted(r.payload for r in got.filter("NOT parse_ok").collect()) == [
        "<7>1 2026-03-02T00:00:01Z h prog1 - - - over\ntwo lines"
    ]
    assert got.filter("parse_ok").count() == 25


def test_cli_daemon_fails_when_query_stops_outside_sigterm(spark, tmp_path):
    """The only exit 0 is a requested stop: a query stopped from outside
    (no reload swap in progress) makes the daemon raise, and it leaves no
    query running."""
    _, _, conf = _udp_daemon_conf(tmp_path)

    def traffic():
        spark.streams.active[0].stop()

    argv = ["--daemon", "--config", str(conf), "--out", str(tmp_path / "out")]
    with pytest.raises(RuntimeError, match="stopped outside a reload"):
        _run_daemon_cli(spark, argv, traffic)
    assert not spark.streams.active


def test_config_from_tcp_framing_compile_errors(spark):
    with pytest.raises(C.ConfigError, match="spool"):
        C.compile_config("from tcp 127.0.0.1 0 as syslog-frame;")(None, spark=spark)
    with pytest.raises(C.ConfigError, match="framing"):
        C.compile_config("from tcp 127.0.0.1 514 as pigeon;")(None, spark=spark)
    with pytest.raises(C.ConfigError, match="out of range"):
        C.compile_config("from tcp 127.0.0.1 0;")(None, spark=spark)  # newline framing needs a real port


def test_config_internal_log_self_observability(spark, tmp_path):
    """`from internal-log '<root>'; parse beholder-stats;` — the
    self-observability loop in config language: a real checkpointed
    stage writes _lineage; the config scans the engine's own metrics as
    messages and recovers the typed counters exactly. Non-stats payloads
    quarantine with parse_ok=false (P7)."""
    from pyspark.sql import functions as F

    from beholder_spark.plans import lineage as ln

    root = str(tmp_path / "pipe")
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("part"), (F.col("id") % 5 == 0).alias("bad")
    )
    ln.run_stage(
        spark, root, "demo", df, partition_col="part",
        extra_metrics={"parse_failures": F.count_if(F.col("bad"))},
    )

    cfg = f"from internal-log '{root}';\nparse beholder-stats;\n"
    out = C.compile_config(cfg)(None, spark=spark)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].parse_ok
    r = rows[0]
    assert (r.stage, r.rows_out, r.parse_failures, r.dropped, r.n_partitions) == (
        "demo", 40, 8, 0, 4
    )
    assert r.source == f"internal-log://{root}"
    assert r.run_id.startswith("r") and r.wall_ms >= 0

    # a second (resume) run appends a rows_out=0 lineage row — visible as
    # a second message, stats still recoverable per run
    ln.run_stage(spark, root, "demo", df, partition_col="part")
    out2 = C.compile_config(cfg)(None, spark=spark)
    assert out2.count() == 2
    assert out2.agg(F.sum("rows_out")).first()[0] == 40  # resume added nothing

    # P7: non-stats payloads through the same parser quarantine cleanly
    other = spark.createDataFrame([("not a stats line",)], ["payload"])
    from beholder_spark.operators import parse as po

    q = po.parse_beholder_stats(other).first()
    assert q.parse_ok is False and q.stage is None and q.rows_out is None

    # compile error: missing root
    with pytest.raises(C.ConfigError, match="internal-log"):
        C.compile_config("from internal-log;")(None, spark=spark)


def test_config_stream_tee_fanout_two_sinks_with_reload(spark, tmp_path):
    """Streaming config FAN-OUT (Beholder's bread-and-butter): a config
    with `tee { … to file }` plus the main flow runs as ONE streaming
    query; both sinks land through the manifested stages exactly-once,
    including across a mid-run config rewrite via the supervisor."""
    import time

    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")

    def wave(lo, hi):
        rows = [
            (f"<{(i * 3) % 32}>1 2026-05-01T00:00:00Z h prog{i % 2} - - - t{i}",)
            for i in range(lo, hi)
        ]
        spark.createDataFrame(rows, ["payload"]).coalesce(1).write.mode("append").parquet(src_dir)

    cfg = tmp_path / "beholder.conf"
    cfg.write_text(
        "parse syslog keep-unparsed;\n"
        "tee { keep $severity $program; to file 'side/{$program}'; }\n"
        "set $ver 'v1';\n"
        "keep $ver $severity $program $parse_ok;\n"
    )
    wave(0, 30)

    out = str(tmp_path / "out")
    sup = C.ConfigStreamSupervisor(
        spark,
        str(cfg),
        lambda: spark.readStream.schema("payload string").parquet(src_dir),
        out,
        str(tmp_path / "ckpt"),
    ).start()
    try:

        def n(stage):
            try:
                return ln.read_stage(spark, out, stage, "_batch").count()
            except Exception:
                return 0

        deadline = time.monotonic() + 120
        while (n("config_sink") < 30 or n("sink_0") < 30) and time.monotonic() < deadline:
            time.sleep(0.5)
        assert n("config_sink") == 30 and n("sink_0") == 30

        side = ln.read_stage(spark, out, "sink_0", "_batch")
        # tee slice: only the teed columns, templated field is a partition col
        assert set(side.columns) == {"severity", "program", "_batch"}
        assert sorted(r.program for r in side.select("program").distinct().collect()) == [
            "prog0", "prog1"
        ]
        main = ln.read_stage(spark, out, "config_sink", "_batch")
        assert main.filter("ver = 'v1'").count() == 30  # tee didn't leak into main

        # rewrite mid-run: supervisor swaps on the same checkpoint; both
        # sinks stay exactly-once across the swap
        cfg.write_text(
            "parse syslog keep-unparsed;\n"
            "tee { keep $severity $program; to file 'side/{$program}'; }\n"
            "set $ver 'v2';\n"
            "keep $ver $severity $program $parse_ok;\n"
        )
        assert sup.reload() is True
        wave(30, 50)
        deadline = time.monotonic() + 120
        while (n("config_sink") < 50 or n("sink_0") < 50) and time.monotonic() < deadline:
            time.sleep(0.5)
        assert n("config_sink") == 50 and n("sink_0") == 50  # no loss, no dupes
        vers = {
            r.ver: r.n
            for r in ln.read_stage(spark, out, "config_sink", "_batch")
            .groupBy("ver").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert vers == {"v1": 30, "v2": 20}
    finally:
        sup.stop()


def test_config_fanout_survives_checkpoint_loss_with_grown_source(spark, tmp_path):
    """Regression (r4 review): the multi-sink fan-out used to persist()
    the batch slice BEFORE computing the file-keyed manifest key, which
    severed input_file_name provenance and degraded every key to
    b<batch_id> — after checkpoint loss on a grown spool, the replayed
    batch 0 anti-joined ALL its rows away and the new files' rows were
    silently dropped in every sink. Both sinks must instead append
    exactly the new file's rows."""
    import shutil

    from beholder_spark.plans import lineage as ln

    cfg = (
        "parse syslog keep-unparsed;\n"
        "tee { keep $severity $program; to file 'side/{$program}'; }\n"
        "keep $severity $program $parse_ok;\n"
    )
    src_dir = str(tmp_path / "src")

    def wave(lo, hi):
        rows = [
            (f"<{(i * 3) % 32}>1 2026-05-01T00:00:00Z h prog{i % 2} - - - t{i}",)
            for i in range(lo, hi)
        ]
        spark.createDataFrame(rows, ["payload"]).coalesce(1).write.mode("append").parquet(src_dir)

    wave(0, 30)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("payload string").parquet(src_dir)
    C.run_config_stream(spark, stream, cfg, out, ckpt).awaitTermination(120)
    assert ln.read_stage(spark, out, "config_sink", "_batch").count() == 30
    assert ln.read_stage(spark, out, "sink_0", "_batch").count() == 30

    # checkpoint lost AND the spool grew: replayed batch 0 = old+new files
    shutil.rmtree(ckpt)
    wave(30, 50)
    stream2 = spark.readStream.schema("payload string").parquet(src_dir)
    C.run_config_stream(spark, stream2, cfg, out, ckpt).awaitTermination(120)
    for stage in ("config_sink", "sink_0"):
        got = ln.read_stage(spark, out, stage, "_batch")
        assert got.count() == 50, stage  # new rows appended, none duplicated
