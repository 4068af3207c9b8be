"""Sources (SURVEY.md §2.1 S1-S6).

Beholder's ``from udp/tcp/timer/internal-log`` listeners map to *scans* in
batch Spark: every source yields a DataFrame tagged with a ``source``
column (Beholder's ``$from``). Framing (newline / syslog-frame) is a
file-format concern; union-of-sources is ``unionByName``.
"""

from __future__ import annotations

import os
import socket as _socket
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tag(df: DataFrame, source_tag: str | None) -> DataFrame:
    """The ``source`` column (Beholder ``$from``) when a tag is given."""
    return df if source_tag is None else df.withColumn("source", F.lit(source_tag))


def from_parquet(spark: SparkSession, path: str, source_tag: str | None = None) -> DataFrame:
    """S1/S2 batch analogue: scan a parquet/Iceberg table of messages.

    ``source_tag`` becomes the ``source`` column (Beholder ``$from``,
    e.g. ``udp://0.0.0.0:5140``). A literal column costs nothing and
    keeps routing predicates on real columns for pushdown.
    """
    return _tag(spark.read.parquet(path), source_tag)


def from_text_lines(spark: SparkSession, path: str, source_tag: str | None = None) -> DataFrame:
    """S2 ``from tcp ... as newline-terminated``: newline-framed text.

    Each line → one message with ``payload`` (Beholder ``$payload``).
    """
    return _tag(spark.read.text(path).withColumnRenamed("value", "payload"), source_tag)


def from_timer(spark: SparkSession, n: int, source_tag: str = "timer") -> DataFrame:
    """S3 ``from timer``: n synthetic messages (batch fixture generator).

    ``spark.range`` is parallel and shuffle-free; in streaming mode the
    equivalent is the ``rate`` source.
    """
    return spark.range(n).select(
        F.col("id").alias("tick"),
        F.lit("beholder timer").alias("payload"),
        F.lit(source_tag).alias("source"),
    )


def from_infinity(spark: SparkSession, n: int) -> DataFrame:
    """S5 ``from infinity``: max-rate benchmark generator (bounded at n)."""
    return spark.range(n).select(
        F.col("id").alias("tick"),
        F.concat(F.lit("message-"), F.col("id")).alias("payload"),
        F.lit("infinity").alias("source"),
    )


def from_socket_stream(
    spark: SparkSession, host: str, port: int, source_tag: str | None = None
) -> DataFrame:
    """S2 ``from tcp ... as newline-terminated`` as a LIVE listener:
    Structured Streaming ``socket`` source — one newline-framed line per
    row, exposed as ``payload`` exactly like the batch text scan, so the
    same stage compiler runs unchanged on the stream (daemon parity:
    Beholder listens on a TCP port; this connects to one). Production
    swaps ``format("kafka")`` for durable ingest — the socket source has
    no replay, which is why it is the parity demo, not the prod path.
    """
    df = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", "payload")
    )
    return _tag(df, source_tag)


class _SpoolBridgeBase:
    """Shared listener→atomic-spool-file machinery: the listener thread
    and its loop, message buffering, atomic flush (hidden tmp → rename,
    visible to the tailing file stream only complete), error recording,
    and the never-silent-loss health surface (:meth:`raise_if_failed`).
    Subclasses bind the socket (:meth:`_bind`), serve one receive or
    accept per loop pass (:meth:`_serve_once`) and may override the spool
    serialization and the pre-final-flush :meth:`_drain`."""

    _file_prefix = "msg"
    _file_suffix = ".txt"

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_lines: int = 1000,
        flush_secs: float = 0.5,
    ):
        self.spool_dir = spool_dir
        self.host, self._want_port = host, port
        self.flush_lines, self.flush_secs = flush_lines, flush_secs
        self.port: int | None = None
        self.received = 0
        self.errors = 0
        self.last_error: str | None = None
        self.failed = False
        self._flush_fails = 0
        self.dropped_overload = 0
        self._buf: list[str] = []
        self._lock = threading.Lock()
        self._seq = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        os.makedirs(spool_dir, exist_ok=True)

    def _serialize(self, lines: list[str]) -> str:
        return "\n".join(lines) + "\n"

    def _record_error(self, exc: BaseException) -> None:
        self.errors += 1
        self.last_error = repr(exc)

    # consecutive spool-write failures before the bridge declares itself
    # failed (daemon exits non-zero instead of buffering toward OOM)
    FLUSH_FAIL_LIMIT = 20
    # consecutive receive/accept failures before the same (a dead listener
    # socket, fd exhaustion)
    LISTEN_FAIL_LIMIT = 50
    # hard bound on buffered-but-unflushed messages: past this the bridge
    # FAILS (counted, surfaced) rather than growing without bound while a
    # full/unwritable spool disk keeps every flush erroring
    MAX_BUFFERED_LINES = 1_000_000

    def _append(self, line: str) -> None:
        with self._lock:
            if len(self._buf) >= self.MAX_BUFFERED_LINES:
                self.dropped_overload += 1
                if not self.failed:
                    self._record_error(
                        RuntimeError("spool buffer overflow; ingest halted")
                    )
                    self.failed = True
                return
            self._buf.append(line)
            self.received += 1

    def flush(self) -> None:
        """Write buffered messages as one atomic spool file. On write
        failure the taken lines are RESTORED to the head of the buffer
        before the exception propagates — a failed flush loses nothing."""
        with self._lock:
            if not self._buf:
                return
            lines, self._buf = self._buf, []
            seq = self._seq
            self._seq += 1
        try:
            tmp = os.path.join(self.spool_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(self._serialize(lines))
            os.rename(
                tmp,
                os.path.join(
                    self.spool_dir, f"{self._file_prefix}-{seq:010d}{self._file_suffix}"
                ),
            )
        except Exception:
            with self._lock:
                self._buf = lines + self._buf
            raise

    def _flush_guarded(self) -> None:
        try:
            self.flush()
            self._flush_fails = 0
        except Exception as exc:  # noqa: BLE001 — lines restored to _buf
            self._record_error(exc)
            self._flush_fails += 1
            if self._flush_fails >= self.FLUSH_FAIL_LIMIT:
                # a persistently unwritable spool is silent data loss in
                # the making (buffer grows, nothing lands) — surface it
                self.failed = True

    def start(self) -> int:
        """Bind the listener, start its thread; returns the bound port."""
        self._sock = self._bind()
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]
        self._thread = threading.Thread(target=self._listen, daemon=True)
        self._thread.start()
        return self.port

    def _listen(self) -> None:
        last = time.monotonic()
        consecutive = 0
        while not self._stop.is_set():
            try:
                self._serve_once()
                consecutive = 0
            except TimeoutError:
                consecutive = 0
            except Exception as exc:  # noqa: BLE001 — never die silently
                # Never-silent-loss contract (SURVEY §2 P7): a transient
                # receive/accept/spool error must not kill the listener
                # thread while the daemon keeps looking healthy. Record it,
                # back off, retry; a sustained error burst marks the
                # bridge FAILED so raise_if_failed()/the daemon loop can
                # exit non-zero instead of idling with zero ingest.
                self._record_error(exc)
                consecutive += 1
                if consecutive >= self.LISTEN_FAIL_LIMIT:
                    self.failed = True
                    break
                time.sleep(0.05)
            now = time.monotonic()
            if self._buf and (len(self._buf) >= self.flush_lines or now - last >= self.flush_secs):
                self._flush_guarded()
                last = now
        self._drain()
        try:
            self.flush()
        except Exception as exc:  # noqa: BLE001
            self._record_error(exc)
            self.failed = True
        self._sock.close()

    def _drain(self) -> None:
        """Let in-flight receivers finish before the final flush."""

    def raise_if_failed(self) -> None:
        """Surface a dead/failing listener to the owner (daemon loop):
        raises RuntimeError if the listener thread died or marked itself
        failed — the never-silent-loss alternative to idling healthy."""
        thread_dead = (
            self._thread is not None and not self._thread.is_alive() and not self._stop.is_set()
        )
        if self.failed or thread_dead:
            raise RuntimeError(
                f"{type(self).__name__} on port {self.port} failed "
                f"(errors={self.errors}, last_error={self.last_error})"
            )

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(10)


class UdpSpoolBridge(_SpoolBridgeBase):
    """S1 ``from udp`` — Beholder's PRIMARY transport (syslog-over-UDP) —
    as a live ingest path. Structured Streaming has no UDP source, so the
    honest mapping is a datagram→spool-file bridge: a listener thread
    binds a UDP socket, buffers datagrams (one datagram = one message,
    the syslog-over-UDP framing), and flushes them as ATOMIC text files
    (write hidden tmp → rename) into a spool directory that a REPLAYABLE
    file stream tails (:func:`from_udp_stream`). Unlike the ``socket``
    source, the spool survives query restart — checkpoint + file listing
    give exactly-once downstream, which is why this is the prod-shaped
    mapping (at cluster scale the bridge runs on the edge nodes, or is
    replaced by Kafka; the Spark side is identical).

    Embedded ``\\n``/``\\r`` in a datagram are replaced by spaces so the
    one-datagram-one-row contract survives newline framing (RFC 5426
    forbids them in syslog datagrams; real daemons do the same).
    """

    _file_prefix = "udp"

    def _bind(self) -> _socket.socket:
        sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
        sock.bind((self.host, self._want_port))
        return sock

    def _serve_once(self) -> None:
        data, _ = self._sock.recvfrom(65536)
        line = data.decode("utf-8", errors="replace")
        self._append(line.replace("\r", " ").replace("\n", " "))


def from_udp_stream(spark: SparkSession, spool_dir: str, source_tag: str | None = None) -> DataFrame:
    """S1 ``from udp`` Spark side: tail the bridge's spool directory as a
    replayable newline-framed file stream — columns match the batch text
    scan (``payload`` [+ ``source``]), so the same stage compiler runs
    unchanged on live UDP ingest."""
    os.makedirs(spool_dir, exist_ok=True)
    return _tag(spark.readStream.text(spool_dir).withColumnRenamed("value", "payload"), source_tag)


def from_internal_log(spark: SparkSession, root: str, source_tag: str | None = None) -> DataFrame:
    """S4 ``from internal-log``: the engine's own lineage/metrics table
    as a message source — the self-observability loop (public Beholder's
    signature ops feature: the pipeline monitors itself through its own
    pipeline language; ``beholder@public:.../config/commands/FromCommand.kt``).

    Each ``_lineage`` row (:mod:`beholder_spark.plans.lineage`) becomes
    ONE message whose ``$payload`` is a ``beholder-stats`` text line;
    ``parse beholder-stats`` downstream recovers the typed counters.
    Message-shaped on purpose (payload + source only): internal-log
    messages flow through the same parse/route/sink stages as any other
    source.
    """
    from beholder_spark.plans import lineage as ln

    df = ln.read_lineage(spark, root)
    if df is None:
        raise ValueError(f"from internal-log: no _lineage table under {root!r}")
    if "dropped_overflow" not in df.columns:  # pre-r3 lineage files
        df = df.withColumn("dropped_overflow", F.lit(0))
    payload = F.format_string(
        "beholder-stats stage=%s run=%s rows_out=%d parse_failures=%d "
        "dropped=%d overflow=%d parts=%d wall_ms=%d",
        F.col("stage"),
        F.col("run_id"),
        F.col("rows_out"),
        F.col("parse_failures"),
        F.col("dropped"),
        F.coalesce(F.col("dropped_overflow"), F.lit(0)),
        F.col("n_partitions"),
        F.col("wall_ms"),
    )
    return df.select(
        payload.alias("payload"),
        F.lit(source_tag if source_tag is not None else f"internal-log://{root}").alias(
            "source"
        ),
    )


# RFC 6587 §3.4.1 sanity cap: the RFC puts no bound on MSG-LEN; a
# length prefix past this is treated as a protocol violation rather
# than an instruction to buffer gigabytes from one peer.
MAX_FRAME_BYTES = 1 << 20


def parse_octet_frames(buf: bytes) -> tuple[list[bytes], bytes, str | None]:
    """Incremental RFC 6587 octet-counting parser (syslog-over-TCP as
    relays like rsyslog/syslog-ng emit it).

    SPEC (normative for this repo): a frame is ``MSG-LEN SP MSG`` where
    MSG-LEN is the decimal byte count of MSG (1–7 digits, value ≤
    ``MAX_FRAME_BYTES``); MSG is arbitrary bytes — embedded ``\\n``/
    ``\\r`` are legal and preserved (the reason this framing exists,
    and what newline framing cannot carry).

    Returns ``(frames, tail, error)``: complete frames, the unconsumed
    tail (a partial frame awaiting more bytes when ``error`` is None),
    and ``error`` — None while well-formed, else the violation reason
    (non-digit at a frame boundary, missing SP, overlong/oversized
    length). On error the caller quarantines the tail: never silent
    loss (P7 contract).
    """
    frames: list[bytes] = []
    i, n = 0, len(buf)
    while i < n:
        j = i
        while j < n and j - i < 8 and 0x30 <= buf[j] <= 0x39:
            j += 1
        if j == i:
            return frames, buf[i:], f"expected digit at frame boundary, got byte {buf[i]:#04x}"
        if j - i >= 8:
            return frames, buf[i:], "length prefix longer than 7 digits"
        if j == n:
            break  # incomplete length prefix — wait for more bytes
        if buf[j] != 0x20:
            return frames, buf[i:], f"expected SP after length, got byte {buf[j]:#04x}"
        msg_len = int(buf[i:j])
        if msg_len > MAX_FRAME_BYTES:
            return frames, buf[i:], f"frame length {msg_len} exceeds cap {MAX_FRAME_BYTES}"
        if n - (j + 1) < msg_len:
            break  # incomplete frame body — wait for more bytes
        frames.append(buf[j + 1 : j + 1 + msg_len])
        i = j + 1 + msg_len
    return frames, buf[i:], None


class TcpSyslogFrameBridge(_SpoolBridgeBase):
    """S2 ``from tcp … as syslog-frame`` — RFC 6587 octet-counted TCP
    framing, the transport real syslog relays use over TCP (public
    Beholder semantics: ``beholder@public:.../listeners/TcpListener.kt``).

    The ``socket`` streaming source is newline-framed and cannot carry
    frames with embedded newlines, so this uses the same bridge shape as
    :class:`UdpSpoolBridge`: an accept loop (one handler thread per
    connection) parses octet-counted frames out of each byte stream and
    spools them as atomic JSON-lines files — JSON escaping is what lets
    a frame containing ``\\n`` survive file framing bit-exact.
    :func:`from_tcp_frame_stream` tails the spool as a replayable file
    stream (checkpoint + file listing → exactly-once downstream).

    Violations follow the P7 never-silent-loss contract: a malformed
    length prefix or EOF mid-frame quarantines that connection's
    remaining bytes as ONE message and is counted in ``errors``.
    """

    _file_prefix = "tcpf"
    _file_suffix = ".json"

    def _serialize(self, lines: list[str]) -> str:
        import json as _json

        return "".join(
            _json.dumps({"payload": ln}, ensure_ascii=False) + "\n" for ln in lines
        )

    def _handle_conn(self, conn: _socket.socket) -> None:
        buf = b""
        try:
            conn.settimeout(0.2)
            while not self._stop.is_set():
                try:
                    data = conn.recv(65536)
                except TimeoutError:
                    continue
                except Exception as exc:  # noqa: BLE001
                    self._record_error(exc)
                    break
                if not data:
                    break  # clean EOF
                buf += data
                frames, buf, err = parse_octet_frames(buf)
                for fr in frames:
                    self._append(fr.decode("utf-8", errors="replace"))
                if err is not None:
                    self._record_error(ValueError(f"octet framing violation: {err}"))
                    if buf:  # quarantine the unparseable tail as one message
                        self._append(buf.decode("utf-8", errors="replace"))
                        buf = b""
                    break
        finally:
            if buf:  # EOF mid-frame: quarantine the partial bytes
                self._record_error(ValueError("EOF mid-frame; partial bytes quarantined"))
                self._append(buf.decode("utf-8", errors="replace"))
            conn.close()

    def _bind(self) -> _socket.socket:
        sock = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
        sock.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
        sock.bind((self.host, self._want_port))
        sock.listen(16)
        self._conn_threads: list[threading.Thread] = []
        return sock

    def _serve_once(self) -> None:
        conn, _ = self._sock.accept()
        t = threading.Thread(target=self._handle_conn, args=(conn,), daemon=True)
        t.start()
        # prune finished handlers so a weeks-long daemon with
        # reconnecting relays doesn't accumulate dead Threads
        self._conn_threads = [x for x in self._conn_threads if x.is_alive()]
        self._conn_threads.append(t)

    def _drain(self) -> None:
        for t in self._conn_threads:
            t.join(2)


def from_tcp_frame_stream(
    spark: SparkSession, spool_dir: str, source_tag: str | None = None
) -> DataFrame:
    """S2 ``from tcp … as syslog-frame`` Spark side: tail the TCP frame
    bridge's JSON-lines spool as a replayable file stream. Columns match
    the other line sources (``payload`` [+ ``source``]) so the same
    stage compiler runs unchanged; unlike the text spool, frames with
    embedded newlines round-trip bit-exact through the JSON escaping."""
    os.makedirs(spool_dir, exist_ok=True)
    return _tag(spark.readStream.schema("payload STRING").json(spool_dir), source_tag)


def union_sources(*dfs: DataFrame) -> DataFrame:
    """S6 / C3: multiple ``from`` (or ``join {}``) = stream union.

    ``unionByName(allowMissingColumns=True)`` — missing fields hold NULL,
    matching Beholder's dynamic-field model (SURVEY.md §1.2). Narrow op,
    no shuffle.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
