"""spark-submit entry point (BASELINE.json:14 deployment contract).

Cluster:

    spark-submit --py-files beholder_spark.zip -m ... \
        beholder_spark/__main__.py \
        --pages s3://…/pages --lookup s3://…/host_lookup --out s3://…/run1

Local smoke:

    python -m beholder_spark --pages /tmp/fx/pages.parquet \
        --lookup /tmp/fx/host_lookup.parquet --out /tmp/out

With ``--config <file>`` the stages come from Beholder config text
(:mod:`beholder_spark.config`) instead of the built-in pages spec. The job
is resumable: rerunning with the same --out skips partitions already in
the checkpoint manifest (``--no-checkpoint`` disables lineage/resume).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="beholder_spark")
    p.add_argument("--pages", help="input pages table path (required except --daemon with `from udp`)")
    p.add_argument("--lookup", help="host lookup table path (required without --config)")
    p.add_argument("--out", required=True, help="output root (sinks + _manifest/_lineage)")
    p.add_argument("--config", help="Beholder config text file (optional)")
    p.add_argument("--no-checkpoint", action="store_true", help="disable lineage/resume")
    p.add_argument("--master", default=None, help="override master (default: spark-submit's)")
    p.add_argument(
        "--daemon",
        action="store_true",
        help="run the config as a LONG-RUNNING stream (`beholder -c conf` parity): "
        "`from udp` configs get the datagram bridge; otherwise --pages is "
        "tailed as a file stream. SIGHUP or editing the config hot-reloads; "
        "SIGTERM drains and exits 0.",
    )
    p.add_argument("--checkpoint", help="streaming checkpoint dir (daemon mode; default <out>/_checkpoint)")
    args = p.parse_args(argv)

    from beholder_spark.session import get_spark, ship_package

    spark = get_spark("beholder-spark-job", master=args.master)
    ship_package(spark)

    if args.daemon:
        if not args.config:
            p.error("--daemon requires --config")
        return _run_daemon(spark, p, args)

    if not args.pages:
        p.error("--pages is required")
    if args.config:
        from beholder_spark.config import run_config_pipeline

        with open(args.config) as f:
            text = f.read()
        pages = spark.read.parquet(args.pages)
        results = run_config_pipeline(spark, pages, text, args.out)
        for name, df in results.items():
            print(f"{name}: {df.count()} rows")
    else:
        if not args.lookup:
            p.error("--lookup is required without --config")
        from beholder_spark.pipeline import run_pages_pipeline

        results = run_pages_pipeline(
            spark, args.pages, args.lookup, args.out, checkpoint=not args.no_checkpoint
        )
        from beholder_spark.plans import lineage as ln

        lin = ln.read_lineage(spark, args.out)
        if lin is not None:
            lin.orderBy("run_id").show(truncate=False)
    return 0


def _run_daemon(spark, p, args) -> int:
    """Daemon execution (`beholder -c config` parity): `from udp` configs
    get the datagram→spool bridge, `from tcp … as syslog-frame` configs
    the RFC6587 frame bridge; others tail --pages as a file stream.
    All run under the hot-reload supervisor (SIGHUP / config-mtime swap
    of the pipeline STAGES — the listeners stay bound across reloads;
    changing ports/spools needs a restart, the spool directory being the
    stable handoff point). One main-thread loop polls for a reload and
    checks the bridges and the query once a second.

    SIGTERM is the one clean stop: the loop ends (no reload can restart
    a query), the bridges stop and flush their buffers into the spool,
    the query processes everything available, and the daemon exits 0.
    Any other end — a failed bridge, a query that failed or was stopped
    from outside — raises (exit non-zero). The SIGTERM and SIGHUP
    handlers are restored on return."""
    import os
    import signal
    import threading

    from beholder_spark import config as C

    ckpt = args.checkpoint or os.path.join(args.out, "_checkpoint")
    with open(args.config) as f:
        text = f.read()
    cmds = C.parse_config(text)
    first_from = next((c for c in cmds if c.name == "from"), None)

    probe = C.compile_config(text)
    if first_from is not None and first_from.args and first_from.args[0].value in ("udp", "tcp"):
        probe(None, spark=spark)  # records the ingest declarations
    if probe.ingest:
        # the listeners start once, from the declared specs; the
        # supervisor's self-sourcing recompiles re-tail the same spools
        stream_factory = lambda: None  # noqa: E731 — self-sourcing config
    else:
        if not args.pages:
            p.error(
                "--daemon without a `from udp`/`from tcp … as syslog-frame` "
                "config requires --pages (streaming source dir)"
            )
        schema = spark.read.parquet(args.pages).schema
        stream_factory = lambda: spark.readStream.schema(schema).parquet(args.pages)  # noqa: E731

    sup = C.ConfigStreamSupervisor(spark, args.config, stream_factory, args.out, ckpt)
    term: list[int] = []  # the handlers only flag; the loop below acts
    prev = {}  # Python installs signal handlers from the main thread only
    if threading.current_thread() is threading.main_thread():
        prev[signal.SIGTERM] = signal.signal(signal.SIGTERM, lambda *_: term.append(1))
        prev[signal.SIGHUP] = signal.signal(signal.SIGHUP, lambda *_: setattr(sup, "hup", True))
    bridges = []
    try:
        for cls, kwargs in probe.ingest:
            b = cls(**kwargs, flush_secs=0.2)
            b.start()
            bridges.append(b)
        sup.start()
        src = ", ".join(f"{type(b).__name__} port {b.port}" for b in bridges) or args.pages
        print(f"daemon: {src} → {args.out} (SIGHUP/config edit reloads, SIGTERM stops)", flush=True)
        parts = (*bridges, sup)
        refused = None  # the refusal last reported
        while not term:
            if sup.poll():  # SIGHUP or a config edit → reload
                print(f"daemon: reloaded {args.config} (generation {sup.generation})", flush=True)
            elif sup.last_error is not refused:
                refused = sup.last_error
                if refused is not None:  # the old pipeline keeps running
                    print(f"daemon: reload refused: {refused!r}", flush=True)
            for x in parts:
                x.raise_if_failed()  # dead listener or query → exit non-zero
            sup.query.awaitTermination(1)
        for b in bridges:
            b.stop()  # flushes the buffer into the spool
        sup.query.processAllAvailable()
        for x in parts:
            x.raise_if_failed()  # a failed last flush or a dead query is no clean stop
        return 0
    finally:
        sup.stop()
        for b in bridges:
            b.stop()
        for sig, handler in prev.items():
            signal.signal(sig, handler)


if __name__ == "__main__":
    sys.exit(main())
