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
    """K3 ``to tcp host:port`` executor-side sender (config
    ``foreachPartition``): one TCP connection per partition, rows
    newline-framed (Beholder's sender-pool analogue — senders run in
    parallel across executors, never through the driver). At-least-once:
    a failed send fails the task and Spark's retry resends the partition.
    NULL lines are skipped (nothing to frame)."""

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


def send_partition_to_udp(host: str, port: int, line_col: str, max_bytes: int = 60000):
    """K3 ``to udp host:port`` executor-side sender (config
    ``foreachPartition``): one datagram per row (Beholder's native
    transport — syslog-over-UDP). One socket per
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
    checkpointed stages (:func:`beholder_spark.plans.lineage.run_stage`)
    and the uncheckpointed flagship all call it.

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
