"""Source/sink roundtrip queries — SURVEY.md §2 a2 (csv/json ingestion)
and a4 (parquet sink).  Side-effecting by nature: each call writes to a
scratch directory of its own (``sources.io.fresh_scratch_dir``), reads
its output back, and returns an aggregate the DuckDB oracle reproduces
from the *original* table — so the roundtrip itself is what's being
verified, and a later call never touches an earlier call's files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.registry import register
from ma_anonymization_etl_spark.sources.io import (
    fresh_scratch_dir,
    load,
    read_csv,
    read_json,
    write_parquet,
)

_SCALE = 10000
_SQL_SUM_VALUE = (
    f"CAST(SUM(CAST(FLOOR(value * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE}"
)


@register(
    "a2_csv_roundtrip",
    oracle=f"""
SELECT event_type, COUNT(*) AS n, {_SQL_SUM_VALUE} AS sum_value
FROM events GROUP BY event_type
""",
)
def a2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2: CSV sink + explicit-schema CSV source.  Doubles survive the
    text roundtrip exactly (Spark writes shortest-repr, reads the same
    double back); the oracle aggregates the original parquet."""
    path = fresh_scratch_dir(spark, "a2_csv")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    e.write.option("header", True).csv(path)
    back = read_csv(
        spark, path,
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE",
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.floor(F.col("value") * _SCALE)).cast("double") / _SCALE).alias("sum_value"),
    )


@register(
    "a2b_json_roundtrip",
    oracle="""
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def a2b_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2: JSON-lines sink + explicit-schema JSON source."""
    path = fresh_scratch_dir(spark, "a2_json")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    e.write.json(path)
    back = read_json(spark, path, "event_id BIGINT, user_id BIGINT, event_type STRING")
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users")
    )


@register(
    "a2c_orc_roundtrip",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date
FROM orders GROUP BY o_orderstatus
""",
)
def a2c_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2 (ORC variant): columnar ORC sink + source — Spark-native
    (no extra package), with the same predicate-pushdown/column-pruning
    behavior as parquet.  Typed columns (bigint/string/date) roundtrip
    losslessly; the oracle aggregates the original parquet."""
    path = fresh_scratch_dir(spark, "a2_orc")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_orderdate")
    o.write.orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "a4_parquet_sink",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers, COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment
""",
)
def a4_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a4: hive-partitioned parquet sink, verified by re-reading.  The
    partition column round-trips through the directory layout (read back
    as the partition value), giving downstream partition pruning."""
    path = fresh_scratch_dir(spark, "a4_parquet")
    c = load(spark, sf_dir, "customer")
    write_parquet(c, path, partition_by=["c_mktsegment"])
    back = spark.read.parquet(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


@register(
    "n4_compact_small_files",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
         / 10000 AS total_price
FROM orders GROUP BY o_orderpriority
""",
)
def n4_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n4: small-file compaction — the lakehouse maintenance pass.  A
    deliberately fragmented copy of orders (64 files from an
    over-parallel writer) is rewritten to 4 right-sized files via
    repartition-write; the aggregate over the compacted copy must match
    the source oracle, proving compaction is content-preserving.  At
    100 TB the repartition count comes from table_bytes /
    maxPartitionBytes per partition dir, and the rewrite runs per
    partition so only fragmented partitions pay; file counts are pinned
    in tests/test_etl.py."""
    base = fresh_scratch_dir(spark, "n4")
    frag, comp = os.path.join(base, "frag"), os.path.join(base, "compact")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o.repartition(64).write.parquet(frag)
    spark.read.parquet(frag).repartition(4).write.parquet(comp)
    back = spark.read.parquet(comp)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (F.sum(F.floor(F.col("o_totalprice") * 10000)).cast("double") / 10000).alias(
            "total_price"
        ),
    )


@register(
    "a9_schema_evolution",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n, COUNT(note) AS n_with_note
FROM (
  SELECT o_orderkey, o_orderstatus, NULL AS note
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_orderpriority AS note
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderstatus
""",
)
def a9_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a9: schema evolution across parquet file generations — v1 files
    lack the ``note`` column a later writer added; reading both
    generations with mergeSchema=true reconciles footers into the union
    schema, old files surfacing NULL for the new column.  At 100 TB
    this is the norm, not the exception: tables accrete columns over
    years of writers, and per-file footer schemas + union-by-name is
    what makes old data readable without a rewrite."""
    base = fresh_scratch_dir(spark, "a9")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    o = load(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    ).write.parquet(v1)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", F.col("o_orderpriority").alias("note")
    ).write.parquet(v2)
    back = spark.read.option("mergeSchema", True).parquet(v1, v2)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.count("note").alias("n_with_note")
    )


@register(
    "a2d_text_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(length(CAST(doc_id AS VARCHAR) || '|' || md5(text)))
            AS BIGINT) AS total_chars,
       MIN(CAST(doc_id AS VARCHAR) || '|' || md5(text)) AS first_line
FROM documents
""",
)
def a2d_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2 (text variant): the line-oriented text sink + source — the
    format raw LLM corpora actually arrive in (one record per line; the
    single `value` column contract of spark.read.text).  Each document
    serializes to 'doc_id|md5(text)' (content fingerprint keeps lines
    newline-free by construction), roundtrips through .text, and the
    read side re-parses and aggregates.  The oracle derives the same
    report from the original table, so any loss or reordering in the
    sink/source path mismatches.

    Scale: text read is splittable by line; schema is applied by
    parsing expressions AFTER the scan, so prefer it only for ingest —
    columnar formats for everything downstream."""
    path = fresh_scratch_dir(spark, "a2_text")
    d = load(spark, sf_dir, "documents").select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("|"), F.md5("text")
        ).alias("value")
    )
    d.write.text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.min("value").alias("first_line"),
    )
