"""SparkSession construction and per-session configuration.

The driver hands us an existing SparkSession for `queries()` calls, so
anything correctness-critical (UTC timezone for timestamp parity with
the DuckDB oracle) must be settable at runtime — `configure()` does
that and is safe to call repeatedly.  `get_spark()` is used by our own
tests and bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache (static conf
# spark.sql.codegen.cache.maxEntries, Spark default 100).  The engine's
# working set is larger than the default: a cold perfbench ``tabular``
# job generates 186 distinct classes, a ``curation`` job 152-156, and one
# pass of bench.py's HEADLINE at sf0.01 1,045.  At 100 the LRU evicts
# nearly every class before its next use, so each repeated job
# recompiles them with Janino (169-171 per ``tabular`` job, 144-145 per
# ``curation`` job) and the JIT warms their hot loops again from
# scratch.  2048 is about 2x the largest measured set.
CODEGEN_CACHE_ENTRIES = 2048

# Runtime-settable confs applied to any session we touch.
_RUNTIME_CONF = {
    # DuckDB renders naive timestamps; Spark must collect in UTC so both
    # engines show the same instant (FIXTURES.md "Cross-cutting notes").
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting —
    # the 100 TB story relies on this (SURVEY.md §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # events.parquet stores ts as TIMESTAMP(NANOS).  Best-effort only:
    # some Spark 4 builds honor this (BIGINT ns), PySpark >= 4.1.2
    # ignores it and reads TIMESTAMP_NTZ.  sources.io.normalize_events_ts
    # branches on the observed dtype, so either behavior is handled.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; idempotent, cheap."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds — ignore
    return spark


def get_spark(app_name: str = "ma-anonymization-etl-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Builder for tests/bench.  local[N] controlled by SPARK_GRAFT_CPUS.

    Sizes Spark's generated-class cache to ``CODEGEN_CACHE_ENTRIES``
    (2048) instead of Spark's default of 100, which is smaller than the
    engine's working set (see the constant).  The conf is static: it only
    takes effect when the JVM's SparkContext is built, so ``configure()``
    cannot set it on an existing session.  A cluster submit, or a
    caller-built session such as ``scripts/driver_sim.py``'s vanilla one,
    must pass ``--conf spark.sql.codegen.cache.maxEntries=<n>`` itself.

    At 100 TB this builder is replaced by cluster submit conf; nothing in
    the engine assumes local mode — partitioning choices are expressed on
    the DataFrames themselves.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return configure(builder.getOrCreate())
