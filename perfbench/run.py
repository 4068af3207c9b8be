"""The beholder_spark benchmark: two closed-loop workloads on local[4].

    python3 perfbench/run.py --workload pages_full --seed 1 --seconds 10 --trace 0

One driver process, one client: each timed operation is a call into the
engine's public API and the next one starts when it returns. Inputs come
from the seeded fixture generators and are cached per seed under
``.perfbench/`` in the checkout; the engine only sees the written files.
Every operation's output is checked (untimed) against the generator's
golden columns; an operation that raises or fails its check counts in
``failed``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` prints the per-layer metrics, read from Spark's status stores after
each traced operation (see harvest.py). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

# Sizes. An operation costs ~4 s of fixed engine overhead (Python worker
# round-trips, bookkeeping appends, the aggregate) before its data cost,
# and a run pays ~35 s for the JVM and the cold first operation; these
# inputs keep a run near one minute with 3-4 timed operations.
N_PAGES = 24_000
N_LINES = 24_000
# one file per core: Spark then scans each file as one task, in file order
INPUT_FILES = 4
WARMUPS = 2  # the second operation of a session still runs 10-30% slow
CPUS = "4"
DRIVER_MEM = "3g"  # the JVM heap; the whole process tree stays far below the host's 15 GB
# gen_pages fills the golden `text` column with extract_text itself
GENERATOR_SOURCES = ("beholder_spark/fixtures.py", "beholder_spark/functions/textextract.py")

SYSLOG_CONFIG = """\
from parquet '{src}';
parse syslog keep-unparsed;
switch $severity {{
  case ~^[0-3]$~ {{ to file 'alert/{{$host}}'; }}
  case ~^[45]$~ {{ to file 'warn/{{$program}}'; }}
  default {{ to file 'rest/{{$host}}'; }}
}}
"""


def _isolate_scratch() -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    tempfile.tempdir = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _high_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with >= 10 samples above it."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11
    return 100.0 * (k + 1) / n, sorted(xs)[k]


# --------------------------------------------------------------------------
# Seeded inputs, cached per seed
# --------------------------------------------------------------------------


def _write_split(table, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _generator_digest() -> str:
    """Digest of the generator sources the inputs and golden columns come
    from, so a changed generator never reuses a stale cache entry."""
    h = hashlib.sha256()
    for rel in GENERATOR_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _cached(kind: str, seed: int, build) -> tuple[str, dict]:
    """Directory of ``kind`` inputs (``kind`` names the size too) for
    ``seed``; ``build(tmp_dir) -> meta`` fills it on a miss. A finished
    entry holds meta.json, written last."""
    path = os.path.join(WORK, "inputs", f"{kind}-{_generator_digest()}-{seed}")
    meta = os.path.join(path, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        info = build(tmp)
        info["gen_ms"] = (time.perf_counter() - t0) * 1e3
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(info, fh)
        try:
            os.replace(tmp, path)
        except OSError:  # another run finished the same entry first
            shutil.rmtree(tmp)
    with open(meta) as fh:
        return path, json.load(fh)


def _pages_route(text, category, lang) -> str:
    # pipeline.default_routes, first match wins
    if text is None:
        return "_unparsed"
    if category == "spam":
        return "spam"
    if lang == "en":
        return "en"
    if lang in ("de", "fr", "es"):
        return "euro"
    return "_unmatched"


def pages_inputs(seed: int) -> tuple[str, dict]:
    def build(d: str) -> dict:
        import pyarrow.parquet as pq

        from beholder_spark import fixtures

        # crawl order: sorted by fetch time, so each scan task covers whole
        # days and the fan-out writes the same number of files for any seed
        pages = fixtures.gen_pages(N_PAGES, seed).sort_by("warc_ts")
        lookup = fixtures.gen_host_lookup(seed)
        _write_split(pages, os.path.join(d, "pages"))
        pq.write_table(lookup, os.path.join(d, "lookup.parquet"))
        cat = dict(zip(lookup.column("host").to_pylist(), lookup.column("category").to_pylist()))
        routes: dict[str, int] = {}
        for url, text, lang in zip(*(pages.column(c).to_pylist() for c in ("url", "text", "lang"))):
            r = _pages_route(text, cat.get(url.split("/")[2]), lang)
            routes[r] = routes.get(r, 0) + 1
        return {"rows": pages.num_rows, "routes": routes}

    return _cached(f"pages{N_PAGES}", seed, build)


def syslog_inputs(seed: int) -> tuple[str, dict]:
    def build(d: str) -> dict:
        import pyarrow.parquet as pq

        from beholder_spark import fixtures

        lines = fixtures.gen_loglines(N_LINES, seed)
        _write_split(lines.select(["line_id", "raw"]).rename_columns(["line_id", "payload"]), os.path.join(d, "lines"))
        pq.write_table(lines.drop(["raw"]), os.path.join(d, "expected.parquet"))
        return {"rows": lines.num_rows}

    return _cached(f"syslog{N_LINES}", seed, build)


# --------------------------------------------------------------------------
# Reading what an operation wrote (pyarrow, no Spark)
# --------------------------------------------------------------------------


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for dp, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(dp, f)
                out[p] = os.path.getsize(p)
    return out


def _read(path: str, columns: list[str]):
    """A Spark-written table with its hive partition columns (``_run_id=``
    directories included, which pyarrow skips by default)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]).to_table(columns=columns)


def _as_str(table, names: list[str]):
    """The named columns as strings; timestamps at microsecond precision
    first, so Spark's and the generator's encodings compare equal."""
    import pyarrow as pa

    cols = {}
    for n in names:
        c = table.column(n)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us"))
        cols[n] = c.cast(pa.string())
    return pa.table(cols)


def _sorted_equal(got, want, keys: list[str]) -> bool:
    order = [(k, "ascending") for k in keys]
    return got.num_rows == want.num_rows and got.sort_by(order).equals(want.sort_by(order))


def _counts(column) -> dict[str, int]:
    import pyarrow.compute as pc

    return {str(v["values"]): v["counts"] for v in pc.value_counts(column).to_pylist()}


class CheckFailed(AssertionError):
    pass


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class Workload:
    """One operation type: ``prepare`` once, ``check`` untimed after
    every timed ``op``."""

    name = ""
    input_path = ""
    rows = 0  # input rows, all of which one operation has to process

    def __init__(self, seed: int):
        self.seed = seed
        self.gen_ms = 0.0

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, out: str) -> None:
        raise NotImplementedError

    def check(self, spark, out: str) -> dict[str, float]:
        """Raise CheckFailed on a wrong output; return layer counts."""
        raise NotImplementedError


class PagesFull(Workload):
    """Cold ``run_pages_pipeline`` into an empty root (the CLI default)."""

    name = "pages_full"

    def prepare(self, spark) -> None:
        d, meta = pages_inputs(self.seed)
        self.meta, self.gen_ms = meta, meta["gen_ms"]
        self.input_path = os.path.join(d, "pages")
        self.lookup = os.path.join(d, "lookup.parquet")
        self.rows = meta["rows"]
        golden = _read(self.input_path, ["url", "warc_ts", "text"])
        self.golden = _as_str(golden, ["url", "warc_ts", "text"])

    def op(self, spark, out: str) -> None:
        from beholder_spark.pipeline import run_pages_pipeline

        run_pages_pipeline(spark, self.input_path, self.lookup, out, checkpoint=True)

    def _routed(self, out: str):
        """The manifested routed rows: (partition, run_id) pairs the manifest records."""
        import pyarrow.compute as pc

        routed = _read(os.path.join(out, "routed"), ["url", "warc_ts", "text_out", "route", "day", "_run_id"])
        man = _read(os.path.join(out, "_manifest"), ["stage", "partition", "run_id"])
        man = man.filter(pc.equal(man.column("stage"), "routed"))
        done = set(zip(man.column("partition").to_pylist(), man.column("run_id").to_pylist()))
        days = [str(d) if d is not None else "__NULL__" for d in routed.column("day").to_pylist()]
        keep = [(d, r) in done for d, r in zip(days, routed.column("_run_id").to_pylist())]
        return routed.filter(keep)

    def check(self, spark, out: str) -> dict[str, float]:
        routed = self._routed(out)
        got = _as_str(routed, ["url", "warc_ts", "text_out"]).rename_columns(["url", "warc_ts", "text"])
        if not _sorted_equal(got, self.golden, ["url", "warc_ts", "text"]):
            raise CheckFailed(f"{self.name}: routed (url, warc_ts, text_out) differ from the golden text")
        counts = _counts(routed.column("route"))
        if counts != self.meta["routes"]:
            raise CheckFailed(f"{self.name}: route counts {counts} != reference {self.meta['routes']}")
        return {f"route.rows.{k}": v for k, v in counts.items()}


class SyslogConfig(Workload):
    """A Beholder config: parse syslog, switch on severity, three file sinks."""

    name = "syslog_config"
    ROUTES = {"case_1": ("0", "1", "2", "3"), "case_2": ("4", "5")}

    def prepare(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        d, meta = syslog_inputs(self.seed)
        self.gen_ms = meta["gen_ms"]
        self.input_path = os.path.join(d, "lines")
        self.rows = meta["rows"]
        self.config = SYSLOG_CONFIG.format(src=self.input_path)
        exp = pq.read_table(os.path.join(d, "expected.parquet"))
        sev = exp.column("expected_severity").to_pylist()
        route = ["case_1" if s in self.ROUTES["case_1"] else "case_2" if s in self.ROUTES["case_2"] else "default" for s in sev]
        fields = ["facility", "severity", "host", "program", "pid", "payload"]
        cols = {"line_id": exp.column("line_id").cast(pa.string())}
        cols.update({f: exp.column(f"expected_{f}") for f in fields})
        self.expected = pa.table(cols).append_column("route", pa.array(route))
        self.fields = ["line_id", *fields]

    def op(self, spark, out: str) -> None:
        from beholder_spark.config import run_config_pipeline

        run_config_pipeline(spark, None, self.config, out)

    def check(self, spark, out: str) -> dict[str, float]:
        import pyarrow.compute as pc

        layer: dict[str, float] = {}
        for i, route in enumerate(("case_1", "case_2", "default")):
            got = _read(os.path.join(out, f"sink_{i}"), [*self.fields, "parse_ok"])
            want = self.expected.filter(pc.equal(self.expected.column("route"), route)).select(self.fields)
            if not _sorted_equal(_as_str(got, self.fields), want, ["line_id"]):
                raise CheckFailed(f"{self.name}: sink_{i} ({route}) rows or parsed fields differ from expected_*")
            layer[f"route.rows.{route}"] = got.num_rows
            layer["parse.failures"] = layer.get("parse.failures", 0) + pc.sum(pc.invert(got.column("parse_ok"))).as_py()
        return layer


WORKLOADS = {w.name: w for w in (PagesFull, SyslogConfig)}


# --------------------------------------------------------------------------
# Session and process
# --------------------------------------------------------------------------


def start_session():
    from beholder_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # untruncated scan locations in plan descriptions, which the
            # harvester matches against the input and bookkeeping paths
            "spark.sql.maxMetadataStringLength": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/statm") as fh:
                rss[int(p)] = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            parent[int(p)] = ppid
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    me, total = os.getpid(), 0
    for pid, size in rss.items():
        q = pid
        while q not in (0, 1, me) and q in parent:
            q = parent[q]
        if q == me:
            total += size
    return total / (1 << 20)


def _cached_mb(jsc) -> float:
    """Memory and disk that cached RDDs hold now, from the app status store."""
    return sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()) / (1 << 20)


class PeakSampler:
    """Peak of ``probe()``, polled from a thread every ``interval`` s
    between start() and stop() (or over a ``with`` block)."""

    def __init__(self, probe, interval: float):
        self.peak = 0.0
        self._probe, self._interval = probe, interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, self._probe())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def __enter__(self) -> PeakSampler:
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def run(args) -> dict:
    t_run = time.perf_counter()
    _isolate_scratch()
    sys.path.insert(0, ROOT)
    from beholder_spark.session import ship_package

    wl = WORKLOADS[args.workload](args.seed)
    runs = os.path.join(WORK, "run", str(os.getpid()))
    os.makedirs(runs, exist_ok=True)
    spark = None
    sampler = PeakSampler(_tree_rss_mb, 0.2) if args.trace else None
    walls, traced_walls, layers = [], [], []
    sink_mb, sink_files = [], []
    attempted = failed = 0
    try:
        if sampler:
            sampler.start()
        # set-up: session (JVM launch included), package ship, inputs, and
        # untimed warm-up operations; the first boots the Python workers
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        ship_package(spark)
        t2 = time.perf_counter()
        wl.prepare(spark)
        setup_s = time.perf_counter() - t0  # plus the warm-ups, not their checks
        warmups = []
        for i in range(WARMUPS):
            out = os.path.join(runs, f"warmup{i}")
            t3 = time.perf_counter()
            wl.op(spark, out)
            warmups.append(time.perf_counter() - t3)
            setup_s += warmups[-1]
            wl.check(spark, out)
            shutil.rmtree(out)
        start_ms, ship_ms = (t1 - t0) * 1e3, (t2 - t1) * 1e3

        if args.trace:
            from harvest import StatusReader, layer_metrics

            reader = StatusReader(spark)
            jsc = spark.sparkContext._jsc.sc()
        spent = 0.0
        while spent < args.seconds or not walls:
            traced = bool(args.trace) and attempted % 2 == 1
            out = os.path.join(runs, f"op{attempted}")
            extra: dict[str, float] = {}
            # the cache the operation itself holds (run_config_pipeline
            # persists its source for the K sinks), polled while it runs
            cache = PeakSampler(lambda: _cached_mb(jsc), 0.1) if traced else contextlib.nullcontext()
            if traced:
                if isinstance(wl, SyslogConfig):
                    from beholder_spark.config import compile_config

                    t0 = time.perf_counter()
                    compile_config(wl.config)
                    extra["config.compile_ms"] = (time.perf_counter() - t0) * 1e3
                reader.mark()
            attempted += 1
            t0 = time.perf_counter()
            try:
                with cache:
                    wl.op(spark, out)
                wall = time.perf_counter() - t0
                extra.update(wl.check(spark, out))
            except Exception as e:  # a failed operation is counted, not fatal
                print(f"operation {attempted} failed: {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                spent += time.perf_counter() - t0
                shutil.rmtree(out, ignore_errors=True)
                if attempted >= 3 and failed == attempted:
                    break
                continue
            spent += wall
            written = _data_files(out)
            sink_files.append(len(written))
            sink_mb.append(sum(written.values()) / (1 << 20))
            if traced:
                traced_walls.append(wall)
                lm = layer_metrics(reader.executions(), wl.input_path, wl.rows, wall * 1e3)
                lm.update(extra)
                lm["config.persist_mb"] = cache.peak
                if isinstance(wl, PagesFull):
                    lm["lineage.rows_skipped"] = wl.rows * (1 - lm["textextract.udf_rows_per_doc"])
                layers.append(lm)
            else:
                walls.append(wall)
            shutil.rmtree(out)
        if sampler:
            sampler.stop()
    finally:
        stop_jvm(spark)
        shutil.rmtree(runs, ignore_errors=True)

    wall_s = _median(walls)
    summary = {
        "workload": wl.name, "seed": wl.seed, "samples": len(walls), "rows": wl.rows,
        "walls": [round(w, 3) for w in walls], "warmups": [round(w, 3) for w in warmups],
        "run_s": round(time.perf_counter() - t_run, 1),
    }
    hp = _high_percentile(walls)
    if hp:
        summary[f"wall_s_p{hp[0]:.0f}"] = hp[1]
    if not args.trace:
        metrics = {
            "wall_s": (wall_s, "s"),
            "rows_per_s": (wl.rows / wall_s if wall_s else 0.0, "rows/s"),
            "setup_s": (setup_s, "s"),
            "sink_mb": (_median(sink_mb), "MiB"),
            "sink_files": (_median(sink_files), "count"),
        }
    else:
        units = _per_layer_units()
        got = {k: _median([lm.get(k, 0.0) for lm in layers]) for k in units}
        got["session.start_ms"] = start_ms
        got["session.ship_package_ms"] = ship_ms
        got["fixtures.gen_ms"] = wl.gen_ms
        got["process.peak_rss_mb"] = sampler.peak
        got["trace.overhead_ms"] = (_median(traced_walls) - wall_s) * 1e3
        metrics = {k: (got[k], units[k]) for k in units}
        summary["traced_samples"] = len(traced_walls)
    print("summary " + json.dumps(summary))
    for k, (v, u) in [*metrics.items(), ("failed_ratio", (failed / attempted, "ratio"))]:
        print(f"  {k:32s} {v:14.4f} {u}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, BENCH_DIR)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
