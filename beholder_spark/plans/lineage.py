"""Per-stage checkpoint + lineage + resume (SURVEY.md §4.3; BASELINE.json:6
"resumable without recomputation ... per-partition lineage and metrics").

Design: each pipeline stage may be *checkpointed* to a stage table keyed
by a partition column (e.g. ``day`` from warc_ts). The stage data goes
through :func:`beholder_spark.sinks.write_table`, the engine's one
partitioned writer: rebalanced by ``(_run_id, partition column, extra
partition columns)``, so a run writes one file per directory (more only
where AQE splits a skewed one), not one per scan task × directory. The
streaming stages keyed by source file skip the shuffle
(``rebalance=False``): a scan task already holds each such directory. Two
bookkeeping tables live under the pipeline root:

- ``_manifest``  — (stage, partition, run_id) rows; a partition appears
  once its stage output is durably written. Resume = anti-join pending
  partitions against this.
- ``_lineage``   — (stage, rows_out, parse_failures, dropped,
  dropped_overflow, wall_ms, n_partitions, run_id) per stage run; row
  counts come from ``df.observe`` (computed during the write action
  itself — no extra pass).

Both tables are appended from driver-side rows built as a ``pyarrow``
table against a pinned schema (:data:`MANIFEST_SCHEMA`,
:data:`LINEAGE_SCHEMA`), which Spark plans as a JVM ``LocalRelation``.
``createDataFrame(list_of_dicts)`` would instead run a PythonRDD job
(pickle → parallelize → Python workers) costing ~1 s per append on
local[4] — more than the stage work it records at small scale.

Crash atomicity (parquet can't give Iceberg's snapshot isolation, so we
approximate it): stage data is written under a ``_run_id=<id>`` partition
and the manifest records (partition, run_id) pairs ONLY after the data
write returns. Readers (:func:`read_stage`, which :func:`run_stage`
returns) keep a row only if its (partition, run_id) pair is manifested —
a crash between the data write and the manifest append leaves an orphan
run directory that is INVISIBLE to reads and harmless to resume: the
partition is still pending, the re-run writes it under a fresh run_id,
and exactly one copy is ever manifested. No duplicate rows, no lost
rows; orphan dirs can be garbage-collected by run_id at leisure.
Production swaps to Iceberg via :data:`beholder_spark.sinks.SINK_FORMAT`
— there the snapshot commit plays the manifest's role natively.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from beholder_spark import sinks as sk

MANIFEST = "_manifest"
LINEAGE = "_lineage"
RUN_COL = "_run_id"  # data-side partition column scoping each write attempt
# manifest key for rows whose partition column is NULL (they land in the
# writer's default partition); without this, collect_set drops NULLs and
# NULL-partition rows would be re-appended on EVERY resume
NULL_PARTITION = "__NULL__"


# Pinned bookkeeping schemas: the exact names, alphabetical order and
# string/bigint types that schema inference gave the rows written by older
# engine versions, so roots written before and after read as one table.
MANIFEST_SCHEMA = pa.schema([
    ("partition", pa.string()),
    ("run_id", pa.string()),
    ("stage", pa.string()),
])
LINEAGE_SCHEMA = pa.schema([
    ("dropped", pa.int64()),
    ("dropped_overflow", pa.int64()),
    ("n_partitions", pa.int64()),
    ("parse_failures", pa.int64()),
    ("rows_out", pa.int64()),
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("wall_ms", pa.int64()),
])
_SCHEMAS = {MANIFEST: MANIFEST_SCHEMA, LINEAGE: LINEAGE_SCHEMA}


def _partition_key(partition_col: str) -> F.Column:
    return F.coalesce(F.col(partition_col).cast("string"), F.lit(NULL_PARTITION))


def _nothing_written(e: AnalysisException) -> bool:
    """A read failed only because nothing was written yet: the path is
    absent (fresh run), or holds no data files (empty input)."""
    return e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _append(spark: SparkSession, root: str, table: str, rows: list[dict]) -> None:
    # a pyarrow table plans as a JVM LocalRelation — no Python-worker job
    df = spark.createDataFrame(pa.Table.from_pylist(rows, schema=_SCHEMAS[table]))
    df.coalesce(1).write.mode("append").parquet(os.path.join(root, table))


def read_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    try:
        return spark.read.parquet(os.path.join(root, MANIFEST))
    except AnalysisException as e:
        if not _nothing_written(e):
            raise
        return None


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    try:
        # mergeSchema: lineage columns may grow across engine versions
        # (e.g. dropped_overflow, added r3) — a root resumed across the
        # upgrade holds files with both shapes; old rows read as NULL
        return spark.read.option("mergeSchema", "true").parquet(os.path.join(root, LINEAGE))
    except AnalysisException as e:
        if not _nothing_written(e):
            raise
        return None


def done_partitions(spark: SparkSession, root: str, stage: str) -> set[str] | None:
    """Partition values already durably written for `stage`, as strings —
    None on a fresh run. Driver-side and tiny (the manifest is rows of
    (stage, partition), not data).

    Scale note (VERDICT r3): this collect is sized for coarse partitions
    (day-grained → O(10^3) strings). A finer-grained stage key (e.g.
    bucket×day at 100 TB → O(10^6)+) should NOT route through this
    helper — use :func:`pending_partitions`, whose anti-join keeps the
    manifest distributed (broadcast of bookkeeping strings, no
    driver-side set rebuild per run). `run_pages_pipeline` calls it on
    the day-grained "routed" stage to prune completed days from the scan
    on resume."""
    manifest = read_manifest(spark, root)
    if manifest is None:
        return None
    rows = manifest.filter(F.col("stage") == stage).select("partition").distinct().collect()
    return {r.partition for r in rows}


def pending_partitions(spark: SparkSession, root: str, stage: str, df: DataFrame, partition_col: str) -> DataFrame:
    """Resume filter: drop rows whose (stage, partition) is already in the
    manifest. Broadcast anti-join — the manifest is tiny by construction.
    """
    manifest = read_manifest(spark, root)
    if manifest is None:
        return df
    done = manifest.filter(F.col("stage") == stage).select(
        F.col("partition").alias("_done_part")
    ).distinct()
    out = df.withColumn("_part_key", _partition_key(partition_col))
    out = out.join(
        F.broadcast(done),
        on=out["_part_key"] == done["_done_part"],
        how="left_anti",
    )
    return out.drop("_part_key")


def read_stage(spark: SparkSession, root: str, stage: str, partition_col: str) -> DataFrame:
    """The manifested view of a stage table: rows whose (partition,
    run_id) pair the manifest records. Orphan run dirs (data written, then
    a crash before the manifest append) are filtered out — they were never
    committed, and their partitions re-run under a new run_id on resume.
    The manifest is tiny (rows of bookkeeping strings) → broadcast
    semi-join; partition pruning on the scan is unaffected."""
    df = spark.read.parquet(os.path.join(root, stage))
    manifest = read_manifest(spark, root)
    if manifest is None:  # data exists but nothing manifested → all orphan
        return df.filter(F.lit(False)).drop(RUN_COL)
    done = (
        manifest.filter(F.col("stage") == stage)
        .select(F.col("partition").alias("_m_part"), F.col("run_id").alias("_m_run"))
        .distinct()
    )
    out = df.join(
        F.broadcast(done),
        on=(
            (_partition_key(partition_col) == F.col("_m_part"))
            & (F.col(RUN_COL) == F.col("_m_run"))
        ),
        how="left_semi",
    )
    return out.drop(RUN_COL)


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    df: DataFrame,
    partition_col: str,
    extra_metrics: dict[str, F.Column] | None = None,
    partition_by: list[str] | None = None,
    rebalance: bool = True,
) -> DataFrame:
    """Execute one checkpointed stage: write pending partitions under a
    run_id-scoped directory, record manifest + lineage, return the
    manifested stage table (for the next stage).

    The write is :func:`beholder_spark.sinks.write_table` in append mode,
    partitioned by ``[_run_id, partition_col, *partition_by]`` — one
    ``REBALANCE`` shuffle, then one file per directory (``rebalance=False``
    skips the shuffle where a scan task already holds whole directories,
    e.g. the streaming stages keyed by source file). Its ``observe``
    attaches counters to the write action itself, above the shuffle —
    metrics cost zero extra passes over the data, and still report when a
    resume prunes every row. ``extra_metrics`` adds stage-specific
    aggregates (e.g. parse_failures = count_if(NOT parse_ok)).
    Write-then-manifest ordering + run_id scoping makes the stage
    crash-safe: a failure anywhere before the manifest append leaves only
    an invisible orphan dir (see module docstring).
    """
    # letter prefix so Hive partition-column TYPE INFERENCE can never fire:
    # an all-digit hex id (or digits+'e' scientific shape) would be read
    # back as a number and normalized (leading zeros dropped), breaking the
    # manifest's string equality and silently hiding committed rows
    run_id = "r" + uuid.uuid4().hex[:12]
    out_path = os.path.join(root, stage)
    pending = pending_partitions(spark, root, stage, df, partition_col)

    metrics: dict[str, F.Column] = {"rows_out": F.count(F.lit(1))}
    metrics.update(extra_metrics or {})
    obs = Observation(f"lineage_{stage}_{run_id}")

    t0 = time.monotonic()
    sk.write_table(
        pending.withColumn(RUN_COL, F.lit(run_id)),
        out_path,
        [RUN_COL, partition_col, *(partition_by or [])],
        mode="append",
        rebalance=rebalance,
        observe=(
            obs,
            *[c.alias(k) for k, c in metrics.items()],
            # partition values captured during the SAME action — no extra
            # pass; NULL partitions tracked under the sentinel key
            F.collect_set(_partition_key(partition_col)).alias("_parts"),
        ),
    )
    wall_ms = int((time.monotonic() - t0) * 1000)

    got = obs.get
    parts = list(got.get("_parts") or [])
    if parts:
        _append(
            spark, root, MANIFEST,
            [{"stage": stage, "partition": str(p), "run_id": run_id} for p in parts],
        )
    _append(
        spark, root, LINEAGE,
        [{
            "stage": stage,
            "run_id": run_id,
            "rows_out": int(got.get("rows_out", 0) or 0),
            "parse_failures": int(got.get("parse_failures", 0) or 0),
            "dropped": int(got.get("dropped", 0) or 0),
            # always 0 (no stage drops rows before its write); kept so
            # LINEAGE_SCHEMA, `from internal-log` / `parse beholder-stats`
            # and existing roots still read the column
            "dropped_overflow": 0,
            "wall_ms": wall_ms,
            "n_partitions": len(parts),
        }],
    )
    try:
        return read_stage(spark, root, stage, partition_col)
    except AnalysisException as e:
        # nothing ever written (empty input) → pass through; any other
        # failure must surface, or a resume would silently return only the
        # pending rows instead of the manifested table
        if not _nothing_written(e):
            raise
        return pending
