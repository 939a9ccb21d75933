"""Explicit registry entries for a1 (parquet scan) and i1 (column
classification) so SURVEY §2's inventory maps 1:1 onto queries()."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.plans.pipeline import classify_columns
from ma_anonymization_etl_spark.registry import register
from ma_anonymization_etl_spark.sources.io import load


@register(
    "a1_parquet_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def a1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a1: the raw columnar scan — schema from parquet footers, values
    byte-identical to the oracle's read of the same file."""
    return load(spark, sf_dir, "region")


@register(
    "a7_custom_pyds",
    oracle="""
SELECT CAST(i % 10 AS INT) AS grp,
       COUNT(*) AS n,
       SUM((i * 7 % 100) / 4.0) AS sum_val,
       MIN(i) AS first_id,
       MAX(i) AS last_id
FROM range(0, 10000) t(i)
GROUP BY CAST(i % 10 AS INT)
""",
)
def a7_custom_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a7: custom Python DataSource (Spark 4 datasource API) — partitioned
    executor-side row generation through the format() registry; the oracle
    reproduces the closed-form rows from DuckDB's range().  Values are
    exact binary fractions so plain SUM is parity-safe (see
    sources/pydatasource.py)."""
    from ma_anonymization_etl_spark.sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = spark.read.format("synthetic_events").option("n", 10000).option("parts", 8).load()
    return df.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("val").alias("sum_val"),
        F.min("id").alias("first_id"),
        F.max("id").alias("last_id"),
    )


@register(
    "a8_custom_pyds_stream",
    oracle="""
SELECT CAST(i % 10 AS INT) AS grp,
       COUNT(*) AS n,
       SUM((i * 7 % 100) / 4.0) AS sum_val
FROM range(0, 5000) t(i)
GROUP BY CAST(i % 10 AS INT)
""",
)
def a8_custom_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a8: the STREAMING face of the custom Python DataSource —
    SimpleDataSourceStreamReader paginates the same closed-form rows as
    offset-tracked micro-batches (5 batches × 1000 rows) through a
    complete-mode aggregate; the oracle is the batch answer over the
    full range.  Drained via run_until (Python stream readers prefetch
    one micro-batch at a time, so availableNow can't see the bounded
    range up front)."""
    from ma_anonymization_etl_spark.sources.pydatasource import register_synthetic_source
    from ma_anonymization_etl_spark.streaming.runner import run_until

    register_synthetic_source(spark)
    src = (
        spark.readStream.format("synthetic_events")
        .option("n", 5000)
        .option("batch_rows", 1000)
        .load()
    )
    agg = src.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("val").alias("sum_val")
    )
    return run_until(
        agg, "a8_pyds", "complete",
        lambda sink: (sink.agg(F.sum("n")).first()[0] or 0) == 5000,
    )


# The fixture classification for the customer table (FIXTURES.md roles).
CUSTOMER_ROLES = {
    "c_name": "di",
    "c_nationkey": "qi",
    "c_mktsegment": "qi",
    "c_acctbal": "sa",
    "c_custkey": "keep",
}


@register(
    "i1_classify_columns",
    oracle="""
SELECT * FROM (VALUES
  ('c_name', 'di'), ('c_custkey', 'keep'),
  ('c_mktsegment', 'qi'), ('c_nationkey', 'qi'),
  ('c_acctbal', 'sa')) AS t(column_name, role)
""",
)
def i1_classify_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i1: materialize the validated DI/QI/SA classification that drives
    the pipeline (the config is data too — auditable, joinable).  The
    classification is a deterministic function of the fixture config, so
    the oracle is simply its expected VALUES literal — validation bugs
    (role typos, dropped columns) flip the hash."""
    roles = classify_columns(CUSTOMER_ROLES)
    rows = [(col, role) for role in sorted(roles) for col in sorted(roles[role])]
    return spark.createDataFrame(rows, "column_name STRING, role STRING")


@register(
    "a11_csv_malformed_handling",
    oracle="""
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_good,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE n_chars END) AS BIGINT)
         AS sum_chars_good
FROM documents
""",
)
def a11_csv_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a11: malformed-record handling on the CSV source — the
    dirty-ingest surface every real feed needs: a staged CSV where
    every 13th record carries an extra column is read under PERMISSIVE
    mode with columnNameOfCorruptRecord, and the release is the triage
    accounting (total / corrupt / good) plus a checksum over the GOOD
    rows only — proving both that corrupt rows are flagged (not
    silently dropped or silently parsed) and that good-row values
    arrive intact.  (DROPMALFORMED is deliberately not used for
    counts: CSV column pruning can skip malformed detection under a
    count-only projection — a documented Spark sharp edge.)

    Scale: PERMISSIVE parsing is map-side streaming; the corrupt
    column materializes only for bad rows; triage is one aggregate.
    Quarantine-then-reprocess routes filter on the corrupt column and
    write the two streams separately — same single pass."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ma_anonymization_etl_spark.sources.io import ensure_staged

    def _write(p: str) -> None:
        d = load(spark, sf_dir, "documents")
        line = F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.col("source"),
            F.col("n_chars").cast("string"),
        )
        lines = d.select(
            F.when(F.col("doc_id") % 13 == 0, F.concat(line, F.lit(",XTRA")))
            .otherwise(line)
            .alias("value")
        )
        lines.coalesce(1).write.mode("overwrite").text(os.path.join(p, "feed"))

    stage_dir = ensure_staged(spark, "a11_stage", sf_dir, _write)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(os.path.join(stage_dir, "feed"))
        # materialize FULL rows before aggregating: under column pruning
        # the CSV parser skips token-count validation for unreferenced
        # columns, so an aggregate-only consumer would see zero corrupt
        # records (the same sharp edge that breaks DROPMALFORMED counts).
        .localCheckpoint(eager=True)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return raw.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(bad.cast("long")).alias("n_corrupt"),
        F.sum((~bad).cast("long")).alias("n_good"),
        F.sum(F.when(bad, F.lit(0)).otherwise(F.col("n_chars"))).alias(
            "sum_chars_good"
        ),
    )
