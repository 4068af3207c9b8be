"""Sinks (SURVEY.md §2.6 K1-K5).

Beholder's field-templated ``to file`` paths ARE dynamic partitioning:
``to file /logs/{$route}/{$lang}.log`` ≡ ``partitionBy('route','lang')``.
The sink format is abstracted behind one writer so the sandbox writes
parquet while production writes Iceberg (SURVEY.md §7 hard-part 5) —
the call sites never change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SINK_FORMAT = "parquet"  # "iceberg" in production; single switch point


def send_partition_to_socket(host: str, port: int, line_col: str):
    """Executor-side sender for :func:`write_socket_stream`: one TCP
    connection per partition (Beholder's sender-pool analogue — senders
    run in parallel across executors, never through the driver). NULL
    lines are skipped (nothing to frame)."""

    def send(rows) -> None:
        import socket as _socket

        conn = _socket.create_connection((host, port), timeout=30)
        try:
            for r in rows:
                v = r[line_col]
                if v is not None:
                    conn.sendall((str(v) + "\n").encode("utf-8"))
        finally:
            conn.close()

    return send


def write_socket_stream(
    stream: DataFrame,
    host: str,
    port: int,
    checkpoint_path: str,
    line_col: str = "payload",
    available_now: bool = True,
):
    """K3 ``to tcp host:port`` as a LIVE sink: each micro-batch's rows are
    serialized newline-framed and sent over TCP from the executors
    (``foreachPartition`` — one connection per partition, parallel
    senders, zero driver-side data movement).

    Delivery semantics: at-least-once — a failed send fails the batch,
    the streaming checkpoint retries it (the socket peer must tolerate
    replays; Beholder's UDP/TCP senders are also at-least-once at best).
    Returns the started StreamingQuery (caller awaits/stops).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.foreachPartition(send_partition_to_socket(host, port, line_col))

    w = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def send_partition_to_udp(host: str, port: int, line_col: str, max_bytes: int = 60000):
    """Executor-side sender for :func:`write_udp_stream`: one datagram per
    row (Beholder's native transport — syslog-over-UDP). One socket per
    partition; rows longer than ``max_bytes`` are truncated at the UDP
    payload boundary (datagram semantics: oversize would raise EMSGSIZE
    and fail the batch — truncation-with-contract beats a poison-pill
    row). NULL lines are skipped."""

    def send(rows) -> None:
        import socket as _socket

        sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
        try:
            for r in rows:
                v = r[line_col]
                if v is not None:
                    data = str(v).encode("utf-8")
                    if len(data) > max_bytes:
                        # re-encode through a lossy decode so the cut never
                        # lands mid-UTF-8-sequence (an undecodable datagram
                        # would poison the receiver, not just lose a tail)
                        data = data[:max_bytes].decode("utf-8", "ignore").encode("utf-8")
                    sock.sendto(data, (host, port))
        finally:
            sock.close()

    return send


def write_udp_stream(
    stream: DataFrame,
    host: str,
    port: int,
    checkpoint_path: str,
    line_col: str = "payload",
    available_now: bool = True,
):
    """K3 ``to udp host:port`` as a LIVE sink: one datagram per row, sent
    from the executors (``foreachPartition`` — parallel senders, zero
    driver-side data movement), mirroring :func:`write_socket_stream`.

    Delivery semantics: fire-and-forget per datagram (UDP loses what the
    network loses — same contract as Beholder's UDP sender), but batch
    REPLAY still follows the streaming checkpoint, so the peer may see
    duplicates after a failure: at-most-once per send, at-least-once per
    batch. Returns the started StreamingQuery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.foreachPartition(send_partition_to_udp(host, port, line_col))

    w = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Hive-bucketed co-located table (SURVEY.md §4 'co-locate joins via
    bucketing'): rows are hash-partitioned into ``n_buckets`` files by
    ``key`` at WRITE time, so every later equi-join or aggregation on
    ``key`` between tables bucketed with the SAME count reads co-located
    buckets and needs NO exchange — the shuffle is paid once at table
    maintenance and amortized over every downstream query. At 100 TB
    that converts a per-query multi-TB shuffle into a per-ingest cost.
    ``sortBy(key)`` additionally lets sort-merge join skip the per-bucket
    sort when there is one file per bucket. Registered in the session
    catalog (``saveAsTable`` — bucketing metadata lives in the catalog;
    a plain path write cannot carry it)."""
    w = df.write.mode(mode).format(SINK_FORMAT).bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(name)


def send_partition_to_shell(command: str, line_col: str):
    """K4 ``to shell 'command'`` executor-side sender: one subprocess per
    partition; the partition's rows stream newline-framed into its stdin,
    stdin closes at partition end, and a NON-ZERO exit fails the task
    (→ Spark retry; silent exec failure would be silent data loss).

    Trust model is Beholder's own: the config author IS the operator —
    ``to shell`` exists to pipe into operator-owned tooling (logger,
    gzip, a custom forwarder). The command runs via the executor's shell
    on whatever host the partition lands on; at cluster scale the
    command must exist on every executor image. NULL lines are skipped.
    """

    def send(rows) -> None:
        import subprocess as _sp

        proc = _sp.Popen(command, shell=True, stdin=_sp.PIPE)
        try:
            for r in rows:
                v = r[line_col]
                if v is not None:
                    proc.stdin.write((str(v) + "\n").encode("utf-8"))
            proc.stdin.close()
            rc = proc.wait()
            if rc != 0:
                raise RuntimeError(f"`to shell` command exited {rc}: {command!r}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()

    return send


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    observe: tuple | None = None,
    rebalance: bool = True,
) -> None:
    """K2 ``to file <tpl>``: field-templated path ≡ partition columns.
    The engine's only partitioned writer: config file sinks, the
    checkpointed stages (:func:`beholder_spark.plans.lineage.run_stage`),
    the uncheckpointed flagship and the streaming fan-out all call it.

    A partitioned write is first clustered by its partition columns with
    a ``REBALANCE`` hint (one shuffle), so each directory is written by
    one task: one file per directory instead of one per task × directory.
    At scale AQE splits a skewed key's partition into several tasks near
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` and merges small
    ones; Spark ignores the hint when AQE is off (``get_spark`` turns it
    on). ``max_records_per_file`` (``buffer N``, K5) still bounds the
    rows per file. An unpartitioned write keeps its input partitioning,
    and so does ``rebalance=False``: for a caller whose directories
    never straddle scan tasks, the shuffle would buy no fewer files.

    ``observe`` is ``(Observation, *metric_columns)``, applied ABOVE the
    hint. When every row was pruned (a resume) the shuffle is empty, and
    AQE replaces it, map side included, with an empty relation: an
    observe below the hint would vanish from the final plan with it, and
    ``Observation.get`` would fail after the data write.
    """
    if partition_by and rebalance:
        df = df.hint("rebalance", *partition_by)
    if observe:
        df = df.observe(*observe)
    w = df.write.mode(mode).format(SINK_FORMAT)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_fanout_single_pass(df: DataFrame, base_path: str, route_col: str = "route") -> None:
    """R1 strategy (i): one ``partitionBy(route)`` write = one scan, one
    shuffle, N sink directories ``{base_path}/{route_col}={value}/``.

    Preferred over per-sink filtered writes when sinks share a schema;
    use :func:`write_fanout_branches` when per-sink schemas diverge.
    """
    write_table(df, base_path, partition_by=[route_col])


def write_fanout_branches(df: DataFrame, sinks: dict[str, str], route_col: str = "route") -> None:
    """R1 strategy (ii): per-sink filtered branches off ONE materialized
    parent. ``persist()`` bounds the cost to one upstream computation +
    K cheap filtered scans of the cached routed rows; without it Spark
    would recompute the whole parse→enrich chain per sink.
    """
    df = df.persist()
    try:
        df.count()  # materialize once
        for route_value, path in sinks.items():
            write_table(df.filter(df[route_col] == route_value).drop(route_col), path)
    finally:
        df.unpersist()
