"""Sources & sinks (SURVEY.md §2.A).

a1 parquet_scan · a2 csv/json read · a4 parquet_sink.  Streaming
sources/sinks (a5/a6) live in ``streaming/``.

Scale notes (100 TB): parquet scans here are plain
``spark.read.parquet`` so Catalyst's vectorized reader, predicate
pushdown, column pruning, and partition pruning all apply untouched.
Sinks write with ``partitionBy`` so downstream reads get partition
pruning / dynamic partition pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ma_anonymization_etl_spark.session import configure

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, table: str) -> str:
    return f"{sf_dir.rstrip('/')}/{table}.parquet"


_SWEPT_SCRATCH_ROOTS: set[str] = set()


def scratch_dir(spark: SparkSession, *parts: str) -> str:
    """Session-scoped scratch path for side-effecting queries:
    /tmp/mael_scratch/<applicationId>/<parts...>.

    Keyed by applicationId so concurrent engine processes (driver
    harness, CI, bench, ad-hoc sessions) never tread on each other's
    sink/staging dirs — a shared fixed path let a parallel run delete a
    directory mid-write (observed as a transient k10 failure when
    pytest and driver_sim overlapped).

    Stale sibling dirs (other applications, untouched > 1 h) are swept
    best-effort on first use per session so repeated runs cannot fill
    /tmp; the 1-hour grace keeps genuinely concurrent sessions safe."""
    import os
    import shutil
    import tempfile
    import time

    app_id = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), "mael_scratch")
    if app_id not in _SWEPT_SCRATCH_ROOTS:
        _SWEPT_SCRATCH_ROOTS.add(app_id)
        try:
            cutoff = time.time() - 3600
            for entry in os.listdir(root) if os.path.isdir(root) else []:
                p = os.path.join(root, entry)
                if entry != app_id and os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # sweeping is an optimization, never a failure
    d = os.path.join(root, app_id, *parts)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def fresh_scratch_dir(spark: SparkSession, name: str, scratch: str | None = None) -> str:
    """A path that one invocation's side output owns alone: a new
    directory under ``scratch_dir(spark, name)``, or the caller's
    ``scratch``, which must not exist yet.  A caller's path is refused,
    never emptied, so no call deletes data it did not write, and two
    calls in one session never read each other's files."""
    import os
    import uuid

    if scratch is None:
        return os.path.join(scratch_dir(spark, name), uuid.uuid4().hex)
    if os.path.exists(scratch):
        raise ValueError(f"scratch path {scratch!r} already exists; pass a new one")
    return scratch


def stage_key(sf_dir: str) -> str:
    """Collision-resistant conf-key suffix for a staged sf_dir: the
    readable sanitized path plus an 8-hex digest of the raw string
    (plain ``\\W+ → _`` sanitization maps '/data/sf-1' and '/data/sf_1'
    to the same key, silently sharing staged data)."""
    import hashlib
    import re

    return (
        re.sub(r"\W+", "_", sf_dir.rstrip("/"))
        + "_"
        + hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    )


def ensure_staged(spark: SparkSession, key: str, path: str, writer) -> str:
    """Stage-once guard for side-effecting fixtures (n7's partitioned
    fact, n10's schema generations, k22's split stream): run
    ``writer(path)`` unless BOTH the session conf marker is set AND the
    path still exists on disk.  The marker alone is not proof: another
    application's scratch sweep (see scratch_dir) removes app dirs by
    top-level mtime, which writes inside subdirectories do not refresh,
    so a long-lived session could hold a truthy marker for a deleted
    directory and fail on read."""
    import os

    marker = f"spark.mael.staged_{key}"
    if not (spark.conf.get(marker, None) and os.path.exists(path)):
        writer(path)
        spark.conf.set(marker, "1")
    return path


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` (parquet TIMESTAMP(NANOS)) to a µs
    ``TIMESTAMP``, whatever type this Spark build surfaced it as.

    Spark builds differ: with ``spark.sql.legacy.parquet.nanosAsLong``
    honored the column arrives as BIGINT ns (truncate to µs); on
    PySpark ≥ 4.1.2 that conf is inert and the column arrives as
    TIMESTAMP_NTZ already truncated to µs (cast to TIMESTAMP is an
    identity on the wall-clock value under the pinned UTC session tz).
    Both paths are verified byte-identical to DuckDB's read_parquet
    conversion on all rows at sf0.01 (tests/test_sources.py).
    Downstream code always sees ``ts TIMESTAMP``.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type is not None and ts_type != "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """a1: columnar parquet scan; schema trusted from footers (SURVEY §1.3).

    ``events.ts`` is normalized to a µs TIMESTAMP — see
    :func:`normalize_events_ts` for the schema-adaptive rules.
    """
    configure(spark)  # UTC + AQE regardless of who built the session
    df = spark.read.parquet(table_path(sf_dir, table))
    if table == "events":
        df = normalize_events_ts(df)
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Input-parallelism guard (optimization guide §2.5, "input skew"):
    the shipped test tables are single-file, single-row-group parquet,
    so a corpus scan plans as ONE split and every CPU-heavy per-row map
    stage that follows (gram explode + hash, shingle minhash, Arrow
    matmul) serializes on one core regardless of session width — the
    unsplittable-input shape the guide says to repartition immediately
    after the read.  When the planned scan parallelism is below the
    session default, spread rows round-robin (deterministic under task
    retry: sort-before-repartition is on by default) BEFORE the heavy
    stage; on multi-split production inputs the guard returns the frame
    unchanged — no exchange is added at scale.  Apply only where a
    measurement shows the map stage is the wall: the repartition moves
    the raw rows once, which is noise for a corpus this size but would
    be a full-corpus shuffle if a production scan ever hit the branch
    (it cannot, by the guard).  Values never depend on placement — the
    engines are partition-agnostic by construction (oracle-replayable,
    no spark_partition_id / monotonically_increasing_id anywhere).

    Known, accepted cost (ADVICE r12): ``df.rdd.getNumPartitions()``
    analyzes and physically plans the frame a second time to read the
    split count — a driver-side planning cost per guarded call, paid
    deliberately because the guarded frames here are narrow scan+union
    pipelines whose planning is milliseconds; do not wrap frames with
    expensive analysis (wide unions, deep plans) in this guard."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def read_csv(spark: SparkSession, path: str, schema: StructType | str,
             header: bool = True, **options) -> DataFrame:
    """a2: CSV ingestion with an explicit schema (never inferSchema on
    100 TB — schema inference is a full extra pass over the data)."""
    configure(spark)
    return spark.read.csv(path, schema=schema, header=header, **options)


def read_json(spark: SparkSession, path: str, schema: StructType | str,
              **options) -> DataFrame:
    """a2: JSON-lines ingestion with an explicit schema."""
    configure(spark)
    return spark.read.json(path, schema=schema, **options)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite", dynamic: bool = False) -> None:
    """a4: parquet sink, optionally hive-partitioned.

    Partitioned layout is the scale lever: a sanitized 100 TB output
    partitioned by e.g. ship month lets every downstream reader prune.
    ``dynamic=True`` switches partitioned overwrites to DYNAMIC mode
    (n12's backfill shape): only partitions present in ``df`` are
    rewritten, every other partition's files are untouched.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)
