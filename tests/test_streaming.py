"""Streaming equivalence + watermark semantics tests (SURVEY §5.3).

The oracle-checked streaming queries (a5/a6/k7/k9) already prove
stream-output == batch-output on the full events table; here we pin
the semantics the oracle can't see: watermark late-drop across
micro-batch boundaries and streaming dedup of a duplicated source."""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.sources.io import load
from ma_anonymization_etl_spark.streaming.runner import run_to_memory, stream_events
from tests.conftest import SF_ORACLE, SF_SMOKE, canon_rows


@pytest.fixture()
def staging_dir():
    d = os.path.join(tempfile.gettempdir(), "mael_stream_stage", str(time.time_ns()))
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_ns_parquet(spark, rows, path):
    """Write an events-shaped parquet with BIGINT-ns ts (like the corpus)."""
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts BIGINT, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _ns(hours: float) -> int:
    base = 1704067200  # 2024-01-01 00:00:00 UTC, matches the corpus epoch
    return int((base + hours * 3600) * 1_000_000_000)


def test_watermark_drops_late_event(spark, staging_dir):
    """Two checkpointed runs = two micro-batches: run 1 (events
    00:00..05:00) advances the watermark to 04:50 and persists it in
    the checkpoint; run 2 delivers an event at 00:30 — far behind the
    watermark — plus a fresh one at 06:00.  The late event must NOT
    appear in any emitted window; run 1's closed windows must."""
    in_dir = os.path.join(staging_dir, "in")
    ckpt = os.path.join(staging_dir, "ckpt")
    out_dir = os.path.join(staging_dir, "out")
    os.makedirs(in_dir)

    def run_once():
        src = spark.readStream.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        ).parquet(os.path.join(in_dir, "*"))
        ev = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_ns_parquet(
        spark,
        [(i, _ns(i), 1, "click", 1.0, "{}") for i in range(6)],  # 00:00..05:00
        os.path.join(in_dir, "batch1"),
    )
    run_once()
    _write_ns_parquet(
        spark,
        [(100, _ns(0.5), 1, "late", 1.0, "{}"), (101, _ns(6), 1, "fresh", 1.0, "{}")],
        os.path.join(in_dir, "batch2"),
    )
    run_once()
    out = spark.read.parquet(out_dir).collect()
    types = {r["event_type"] for r in out}
    assert "late" not in types, f"late event leaked into {out}"
    # Run 1's windows (00:00..04:00 starts) closed once the watermark
    # passed them — emitted in run 2.
    assert "click" in types


def test_stream_dedup_duplicated_source(spark, staging_dir):
    """k6 streaming form: the same events file landed twice (re-delivery)
    → dropDuplicates on event_id within the watermark yields each event
    once."""
    src_file = f"{SF_ORACLE}/events.parquet"
    in_dir = os.path.join(staging_dir, "in")
    os.makedirs(in_dir)
    shutil.copy(src_file, os.path.join(in_dir, "copy1.parquet"))
    shutil.copy(src_file, os.path.join(in_dir, "copy2.parquet"))
    ev = stream_events(spark, SF_ORACLE, path=in_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicates(["event_id"]).select("event_id")
    got = run_to_memory(deduped, "dedup_test", "append")
    n_expected = load(spark, SF_ORACLE, "events").count()
    assert got.count() == n_expected
    assert got.distinct().count() == n_expected


def test_stream_minhash_dedup_equals_batch(spark):
    """k10's incremental (two-micro-batch, fingerprint-store) near-dup
    pairs must equal single-shot batch j3 on the same planted corpus."""
    from ma_anonymization_etl_spark.operators.llm import j3_dedup_near_minhash
    from ma_anonymization_etl_spark.operators.streaming_queries import (
        k10_stream_minhash_dedup,
    )

    streamed = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in k10_stream_minhash_dedup(spark, SF_ORACLE).collect()
    }
    batch = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in j3_dedup_near_minhash(spark, SF_ORACLE).collect()
    }
    assert streamed == batch


# Every registered query that writes scratch output it then reads lazily.
_SIDE_EFFECTING = (
    "k10_stream_minhash_dedup",
    "a6_stream_sink_parquet",
    "k9_stream_anonymize",
    "k14_stream_pii_scrub",
    "k21_exactly_once_sink",
    "k22_continuous_aggregate",
    "k24_stream_upsert_sink",
    "k25_stream_histogram_maintenance",
    "k26_stream_fuzzy_dedup",
    "a2_csv_roundtrip",
    "a2b_json_roundtrip",
    "a2c_orc_roundtrip",
    "a2d_text_roundtrip",
    "a4_parquet_sink",
    "n4_compact_small_files",
    "a9_schema_evolution",
    "n12_partition_overwrite_backfill",
)


@pytest.mark.parametrize("name", _SIDE_EFFECTING)
def test_calls_own_their_scratch(spark, name):
    """Two calls of one query in one session on the same sf: the first
    call's lazily read frame must still read after the second call ran,
    to the second's rows — each call writes under a scratch directory
    of its own."""
    from ma_anonymization_etl_spark.registry import load_all

    fn = load_all()[name].fn
    first = fn(spark, SF_SMOKE)
    second = fn(spark, SF_SMOKE)
    got = canon_rows(first.columns, first.collect())
    assert got, f"{name} released no rows"
    assert got == canon_rows(second.columns, second.collect())


def test_scratch_removed_at_exit():
    """A process that ran a scratch query leaves no application
    directory under the scratch root once it has exited."""
    import subprocess
    import sys

    code = (
        "import os, sys\n"
        "from ma_anonymization_etl_spark.registry import load_all\n"
        "from ma_anonymization_etl_spark.session import get_spark\n"
        "from ma_anonymization_etl_spark.sources.io import scratch_dir\n"
        "spark = get_spark(app_name='scratch-exit', master='local[1]')\n"
        "load_all()['a4_parquet_sink'].fn(spark, sys.argv[1]).collect()\n"
        "app_dir = scratch_dir(spark)\n"
        "print(app_dir, bool(os.listdir(app_dir)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code, SF_SMOKE],
        cwd=root, env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    app_dir, populated = out.stdout.split()[-2:]
    assert populated == "True", out.stdout
    assert not os.path.exists(app_dir), f"{app_dir} outlived its process"


def test_stream_tumbling_equals_batch(spark):
    """Direct stream-vs-batch equivalence for the k1 transform (complete
    mode, no watermark)."""
    ev = stream_events(spark, SF_ORACLE)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    streamed = {
        (r["ws"], r["event_type"]): r["n"]
        for r in run_to_memory(agg, "eq_test", "complete").collect()
    }
    batch = {
        (r["ws"], r["event_type"]): r["n"]
        for r in load(spark, SF_ORACLE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert streamed == batch


def test_stream_stream_join_two_batches(spark, staging_dir):
    """k15's cross-batch semantics, which the single-batch oracle can't
    see: a purchase arriving in a LATER micro-batch must still join a
    view buffered in join state from an earlier batch, and a purchase
    outside the 1-hour interval must not match at all."""
    in_dir = os.path.join(staging_dir, "in")
    ckpt = os.path.join(staging_dir, "ckpt")
    out_dir = os.path.join(staging_dir, "out")
    os.makedirs(in_dir)

    def run_once():
        src = spark.readStream.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        ).parquet(os.path.join(in_dir, "*"))
        ev = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        views = (
            ev.filter(F.col("event_type") == "view")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        joined = views.join(
            purchases,
            F.expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"),
        ).select("v_user", "view_id", "purchase_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # Batch 1: two views only — nothing can join yet.
    _write_ns_parquet(
        spark,
        [(1, _ns(0.0), 1, "view", 1.0, "{}"), (2, _ns(1.0), 2, "view", 1.0, "{}")],
        os.path.join(in_dir, "b1"),
    )
    run_once()
    # Batch 2: one purchase inside V1's hour, one 4h after V2's window.
    _write_ns_parquet(
        spark,
        [(3, _ns(0.5), 1, "purchase", 1.0, "{}"), (4, _ns(5.0), 2, "purchase", 1.0, "{}")],
        os.path.join(in_dir, "b2"),
    )
    run_once()

    rows = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert rows == {(1, 1, 3)}, f"expected only the in-window cross-batch match, got {rows}"


def test_k21_idempotent_sink_absorbs_replay(spark):
    """k21 delivers the bounded stream TWICE into one sink; the
    batch_id-keyed overwrite must leave exactly one copy of every
    source row (an append sink would hold 2x)."""
    from ma_anonymization_etl_spark.operators.streaming_queries import (
        k21_exactly_once_sink,
    )

    # runs deliver_once() twice; the sink is the batch_id=* dirs' parent
    final = k21_exactly_once_sink(spark, SF_ORACLE)
    out_dir = os.path.dirname(os.path.dirname(urlparse(final.inputFiles()[0]).path))
    written = spark.read.parquet(out_dir)
    n_src = load(spark, SF_ORACLE, "events").count()
    assert written.count() == n_src
    assert written.select("event_id").distinct().count() == n_src


def test_k22_rollup_is_genuinely_incremental(spark):
    """k22 must have processed the staged feed in >= 2 micro-batches —
    its point is merging PARTIALS across batches, so a single-batch run
    would be vacuous.  Partial rows must also exceed final buckets
    (some buckets received contributions from both batches)."""
    from ma_anonymization_etl_spark.operators.streaming_queries import (
        k22_continuous_aggregate,
    )

    final = k22_continuous_aggregate(spark, SF_ORACLE)
    n_final = final.count()
    rollup_dir = os.path.dirname(os.path.dirname(urlparse(final.inputFiles()[0]).path))
    partials = spark.read.parquet(rollup_dir)
    assert partials.select("batch_id").distinct().count() >= 2
    assert partials.count() >= n_final


def test_stream_fuzzy_dedup_equals_batch(spark):
    """k26's incremental (two-micro-batch, blocking-key-store) fuzzy
    pairs must equal single-shot batch j60 on the same planted corpus."""
    from ma_anonymization_etl_spark.operators.llm import j60_fuzzy_dedup_edit
    from ma_anonymization_etl_spark.operators.streaming_queries import (
        k26_stream_fuzzy_dedup,
    )

    streamed = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in k26_stream_fuzzy_dedup(spark, SF_ORACLE).collect()
    }
    batch = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in j60_fuzzy_dedup_edit(spark, SF_ORACLE).collect()
    }
    assert streamed == batch and streamed
