"""Live streaming sources (SURVEY.md §2.1 S2/S3 daemon parity).

Beholder is a long-running listener daemon; these tests run the SAME
stage compiler over genuinely live Structured Streaming sources — a real
TCP socket served by a thread (``from tcp`` parity) and the UDP/TCP
spool bridges (``from udp`` / ``from tcp … as syslog-frame``) — and
assert batch-equivalence: the streamed result equals the batch engine's
result on the same lines.
"""

from __future__ import annotations

import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from beholder_spark import sources
from beholder_spark.operators import parse


def _serve_lines(lines: list[str], ready: threading.Event, stop: threading.Event, port_box: list):
    """One-shot TCP server: accept one client (the socket source), write
    newline-framed lines, hold the connection open until told to stop
    (closing early would fail the streaming query)."""
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port_box.append(srv.getsockname()[1])
    srv.settimeout(30)
    ready.set()
    try:
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        while not stop.wait(0.2):
            pass
        conn.close()
    except TimeoutError:
        pass
    finally:
        srv.close()


def test_socket_stream_parses_like_batch(spark):
    """A live socket listener feeding the syslog parse stage produces the
    same severity counts as the batch engine over identical lines."""
    lines = [f"<{(i * 7) % 100}>1 2026-01-01T00:00:0{i % 10}Z h prog - - - hello {i}" for i in range(50)]

    ready, stop, port_box = threading.Event(), threading.Event(), []
    t = threading.Thread(target=_serve_lines, args=(lines, ready, stop, port_box), daemon=True)
    t.start()
    assert ready.wait(10)
    port = port_box[0]

    stream = sources.from_socket_stream(spark, "127.0.0.1", port, source_tag="tcp://127.0.0.1")
    parsed = parse.parse_syslog(stream, col="payload", keep_unparsed=True)
    q = (
        parsed.writeStream.format("memory")
        .queryName("sock_rows")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if spark.sql("SELECT count(*) AS n FROM sock_rows").first().n >= len(lines):
                break
            time.sleep(0.5)
        got = (
            spark.sql("SELECT severity, count(*) AS n FROM sock_rows WHERE parse_ok GROUP BY severity")
            .toPandas()
            .set_index("severity")["n"]
            .to_dict()
        )
    finally:
        stop.set()
        q.stop()

    batch = parse.parse_syslog(
        spark.createDataFrame([(ln,) for ln in lines], ["payload"]), col="payload", keep_unparsed=True
    )
    exp = (
        batch.filter("parse_ok")
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .set_index("severity")["n"]
        .to_dict()
    )
    assert got == exp
    assert sum(exp.values()) > 0  # the corpus parses (guard against vacuous pass)


def test_udp_sender_truncates_on_codepoint_boundary():
    """Oversize rows are cut at the datagram bound WITHOUT splitting a
    multi-byte UTF-8 sequence (an undecodable datagram would poison the
    receiver)."""
    import socket

    from beholder_spark.sinks import send_partition_to_udp

    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(5)
    port = sock.getsockname()[1]

    send = send_partition_to_udp("127.0.0.1", port, "payload", max_bytes=5)
    send([{"payload": "ééééé"}])  # 2 bytes each; naive cut at 5 splits one
    data, _ = sock.recvfrom(65536)
    sock.close()
    assert len(data) <= 5
    assert data.decode("utf-8") == "éé"  # decodes cleanly, whole codepoints


def test_udp_stream_parses_like_batch(spark, tmp_path):
    """S1 `from udp` live path (Beholder's PRIMARY transport): real
    datagrams → spool bridge → replayable file stream → syslog parse
    produce the same severity counts as the batch engine over identical
    lines."""
    lines = [f"<{(i * 7) % 100}>1 2026-01-01T00:00:0{i % 10}Z h prog - - - udp {i}" for i in range(60)]
    bridge = sources.UdpSpoolBridge(str(tmp_path / "spool"), flush_secs=0.1)
    port = bridge.start()
    try:
        cli = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for ln in lines:
            cli.sendto(ln.encode(), ("127.0.0.1", port))
        cli.close()
        deadline = time.monotonic() + 20
        while bridge.received < len(lines) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert bridge.received == len(lines)  # loopback UDP: no loss expected
        bridge.flush()

        stream = sources.from_udp_stream(
            spark, str(tmp_path / "spool"), source_tag=f"udp://0.0.0.0:{port}"
        )
        parsed = parse.parse_syslog(stream, col="payload", keep_unparsed=True)
        q = parsed.writeStream.format("memory").queryName("udp_rows").outputMode("append").start()
        try:
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline:
                if spark.sql("SELECT count(*) AS n FROM udp_rows").first().n >= len(lines):
                    break
                time.sleep(0.5)
            got = (
                spark.sql(
                    "SELECT severity, count(*) AS n FROM udp_rows WHERE parse_ok GROUP BY severity"
                )
                .toPandas()
                .set_index("severity")["n"]
                .to_dict()
            )
            srcs = [r.source for r in spark.sql("SELECT DISTINCT source FROM udp_rows").collect()]
        finally:
            q.stop()
    finally:
        bridge.stop()

    batch = parse.parse_syslog(
        spark.createDataFrame([(ln,) for ln in lines], ["payload"]), col="payload", keep_unparsed=True
    )
    exp = (
        batch.filter("parse_ok")
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .set_index("severity")["n"]
        .to_dict()
    )
    assert got == exp
    assert sum(exp.values()) > 0  # the corpus parses (guard against vacuous pass)
    assert srcs == [f"udp://0.0.0.0:{port}"]


def test_udp_bridge_flush_failure_restores_buffer(tmp_path):
    """Never-silent-loss: a failed spool write puts the taken lines back
    at the head of the buffer before the exception propagates, and
    raise_if_failed surfaces a dead/failed listener to the daemon loop."""
    import pytest

    bridge = sources.UdpSpoolBridge(str(tmp_path / "sp"), flush_secs=30)
    bridge._buf = ["line-a", "line-b"]
    # point the spool at a regular FILE so the tmp-file open fails
    bad = tmp_path / "not-a-dir"
    bad.write_text("x")
    bridge.spool_dir = str(bad)
    with pytest.raises(OSError):
        bridge.flush()
    assert bridge._buf == ["line-a", "line-b"]  # restored, in order

    bridge.raise_if_failed()  # not failed yet — no-op
    bridge.failed = True
    bridge.last_error = "OSError('disk full')"
    with pytest.raises(RuntimeError, match="disk full"):
        bridge.raise_if_failed()


def test_udp_bridge_one_datagram_one_row(tmp_path):
    """Embedded newlines inside a datagram are sanitized to spaces, so
    the one-datagram-one-message contract survives newline spool framing
    (RFC 5426 forbids them; real syslog daemons do the same)."""
    import pathlib

    bridge = sources.UdpSpoolBridge(str(tmp_path / "sp"), flush_secs=30)
    port = bridge.start()
    try:
        cli = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        cli.sendto(b"part one\npart two\r\n", ("127.0.0.1", port))
        cli.sendto(b"second datagram", ("127.0.0.1", port))
        cli.close()
        deadline = time.monotonic() + 20
        while bridge.received < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert bridge.received == 2
        bridge.flush()
    finally:
        bridge.stop()

    rows = []
    for f in sorted(pathlib.Path(tmp_path / "sp").glob("udp-*.txt")):
        rows += f.read_text().splitlines()
    assert rows == ["part one part two  ", "second datagram"]
    assert not list(pathlib.Path(tmp_path / "sp").glob(".tmp-*"))  # atomic: no orphans


def _octet_frame(msg: str) -> bytes:
    b = msg.encode("utf-8")
    return str(len(b)).encode() + b" " + b


def test_tcp_frame_bridge_batch_equivalence(spark, tmp_path):
    """S2 `from tcp … as syslog-frame` (RFC6587 octet-counting): real TCP
    frames — INCLUDING frames with embedded newlines, which newline
    framing cannot carry — round-trip bit-exact through the bridge spool
    and parse to the same rows as the batch engine on identical
    messages. Bytes are deliberately split mid-frame across socket
    writes to exercise the incremental parser."""
    msgs = [
        f"<{(i * 3) % 64}>1 2026-02-01T00:00:00Z h prog{i % 3} - - - tcp {i}" for i in range(20)
    ]
    msgs.append("<13>1 2026-02-01T00:00:01Z h prog0 - - - multi\nline\npayload")
    msgs.append("unparseable line with\nembedded newline")

    bridge = sources.TcpSyslogFrameBridge(str(tmp_path / "spool"), flush_secs=0.1)
    port = bridge.start()
    try:
        wire = b"".join(_octet_frame(m) for m in msgs)
        cli = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        cli.connect(("127.0.0.1", port))
        # drip the stream in 7-byte chunks: every frame boundary lands
        # mid-write somewhere
        for i in range(0, len(wire), 7):
            cli.sendall(wire[i : i + 7])
        cli.close()
        deadline = time.monotonic() + 20
        while bridge.received < len(msgs) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert bridge.received == len(msgs)
        assert bridge.errors == 0
        bridge.flush()

        stream = sources.from_tcp_frame_stream(
            spark, str(tmp_path / "spool"), source_tag=f"tcp://127.0.0.1:{port}"
        )
        parsed = parse.parse_syslog(stream, col="payload", keep_unparsed=True)
        q = (
            parsed.writeStream.format("memory")
            .queryName("tcpf_rows")
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline:
                if spark.sql("SELECT count(*) n FROM tcpf_rows").first().n >= len(msgs):
                    break
                time.sleep(0.5)
            got_payloads = sorted(
                r.payload for r in spark.sql("SELECT payload FROM tcpf_rows").collect()
            )
            got_sev = {
                r.severity: r.n
                for r in spark.sql(
                    "SELECT severity, count(*) n FROM tcpf_rows WHERE parse_ok GROUP BY severity"
                ).collect()
            }
        finally:
            q.stop()
    finally:
        bridge.stop()

    # batch equivalence: parse rewrites $payload to the extracted message
    # (Beholder semantics), so compare against the BATCH engine's output
    # on identical messages — bit-exact, embedded newlines preserved
    batch = parse.parse_syslog(
        spark.createDataFrame([(m,) for m in msgs], ["payload"]), col="payload", keep_unparsed=True
    )
    assert got_payloads == sorted(r.payload for r in batch.collect())
    # frames with embedded newlines survive bit-exact (both engines keep
    # them raw: the single-line syslog regex doesn't span \n — identical
    # quarantine behavior is part of the equivalence)
    assert any(p.endswith("multi\nline\npayload") for p in got_payloads)
    assert "unparseable line with\nembedded newline" in got_payloads
    exp = {
        r.severity: r.n
        for r in batch.filter("parse_ok").groupBy("severity").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_sev == exp and sum(exp.values()) == len(msgs) - 2


def test_tcp_frame_violation_quarantines_tail(tmp_path):
    """Protocol violation mid-stream: completed frames survive, the
    malformed tail is quarantined as ONE message, the error is counted —
    never silent loss."""
    bridge = sources.TcpSyslogFrameBridge(str(tmp_path / "sp"), flush_secs=30)
    port = bridge.start()
    try:
        cli = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        cli.connect(("127.0.0.1", port))
        cli.sendall(_octet_frame("good frame") + b"XYZ not octet counted")
        cli.close()
        deadline = time.monotonic() + 20
        while bridge.received < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        bridge.stop()
    assert bridge.received == 2
    assert bridge.errors >= 1 and "violation" in (bridge.last_error or "")
    with bridge._lock:
        buf = list(bridge._buf)
    assert buf == [] or buf == ["good frame", "XYZ not octet counted"]  # flushed or pending


def test_octet_frame_parser_incremental_spec():
    """Pin the SPEC edge cases: partial prefixes/bodies wait, zero-length
    frames are legal, >7-digit and oversize lengths are violations."""
    p = sources.parse_octet_frames
    assert p(b"5 hello3 abc") == ([b"hello", b"abc"], b"", None)
    assert p(b"11 line1\nline2") == ([b"line1\nline2"], b"", None)
    assert p(b"12") == ([], b"12", None)  # incomplete prefix: wait
    assert p(b"5 hel") == ([], b"5 hel", None)  # incomplete body: wait
    assert p(b"0 4 next") == ([b"", b"next"], b"", None)
    frames, tail, err = p(b"5 helloXjunk")
    assert frames == [b"hello"] and tail == b"Xjunk" and "digit" in err
    assert "SP" in p(b"5#oops")[2]
    assert "7 digits" in p(b"99999999 x")[2]
    assert "cap" in p(b"9999999 x")[2]


# ---------------------------------------------------------------------------
# Bridge health escalation (r4 review): sustained failures must mark the
# bridge FAILED so the daemon exits non-zero instead of idling healthy
# ---------------------------------------------------------------------------


def test_bridge_persistent_flush_failure_escalates(tmp_path):
    import pytest

    bridge = sources.UdpSpoolBridge(str(tmp_path / "sp"), flush_secs=30)
    bridge._append("hello")
    # make the spool unwritable: point it at a FILE, not a directory
    bad = tmp_path / "not_a_dir"
    bad.write_text("x")
    bridge.spool_dir = str(bad)
    for _ in range(bridge.FLUSH_FAIL_LIMIT):
        bridge._flush_guarded()
    assert bridge.failed is True and bridge.errors >= bridge.FLUSH_FAIL_LIMIT
    with pytest.raises(RuntimeError, match="failed"):
        bridge.raise_if_failed()
    # the buffered line was never lost on the way (restored each time)
    assert bridge._buf == ["hello"]
    # a successful flush resets the escalation counter
    bridge2 = sources.UdpSpoolBridge(str(tmp_path / "sp2"), flush_secs=30)
    bridge2._append("ok")
    bridge2._flush_fails = bridge2.FLUSH_FAIL_LIMIT - 1
    bridge2._flush_guarded()
    assert bridge2._flush_fails == 0 and bridge2.failed is False


def test_bridge_buffer_overflow_is_counted_and_fails(tmp_path):
    bridge = sources.UdpSpoolBridge(str(tmp_path / "sp"), flush_secs=30)
    bridge.MAX_BUFFERED_LINES = 5
    for i in range(9):
        bridge._append(f"m{i}")
    assert len(bridge._buf) == 5  # bounded, no OOM trajectory
    assert bridge.dropped_overload == 4  # loss is COUNTED
    assert bridge.failed is True  # and surfaced, never silent


@pytest.mark.parametrize(
    "bridge_cls", [sources.UdpSpoolBridge, sources.TcpSyslogFrameBridge], ids=["udp", "tcp"]
)
def test_bridge_dead_listener_socket_escalates(tmp_path, bridge_cls):
    bridge = bridge_cls(str(tmp_path / "sp"), flush_secs=30)
    bridge.start()
    try:
        # kill the listener socket underneath the listener loop: every
        # recvfrom()/accept() now raises OSError; the loop must escalate
        # to failed within its 50-consecutive budget instead of spinning
        bridge._sock.close()
        deadline = time.monotonic() + 15
        while not bridge.failed and time.monotonic() < deadline:
            time.sleep(0.1)
        assert bridge.failed is True
        with pytest.raises(RuntimeError, match="failed"):
            bridge.raise_if_failed()
    finally:
        bridge.stop()


def test_tcp_bridge_prunes_finished_connection_threads(tmp_path):
    import socket as so
    import time

    bridge = sources.TcpSyslogFrameBridge(str(tmp_path / "sp"), flush_secs=0.1)
    port = bridge.start()
    try:
        for i in range(8):  # sequential reconnects (rsyslog-style churn)
            with so.create_connection(("127.0.0.1", port), timeout=5) as c:
                msg = f"<13>1 - h p - - - reconnect {i}".encode()
                c.sendall(f"{len(msg)} ".encode() + msg)
            time.sleep(0.05)
        deadline = time.monotonic() + 15
        while bridge.received < 8 and time.monotonic() < deadline:
            time.sleep(0.1)
        assert bridge.received == 8
        time.sleep(0.3)  # let handlers finish
        # one more accept triggers the prune; dead threads must not pile up
        with so.create_connection(("127.0.0.1", port), timeout=5):
            pass
        time.sleep(0.3)
        assert len(bridge._conn_threads) <= 3
    finally:
        bridge.stop()
