"""Registry queries that EXECUTE via Structured Streaming — the stream
computes, the DuckDB oracle (batch semantics) verifies the memory-sink
or parquet-sink output.  SURVEY.md §2 a5/a6, k5/k7/k9.

Every call writes its inputs, sinks and stores under a
``fresh_scratch_dir`` of its own, so a second call never deletes the
parquet under an earlier call's lazily read result; only the read-only
``ensure_staged`` inputs of k22/k24/k25 are shared across calls.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.registry import register
from ma_anonymization_etl_spark.sources.io import ensure_staged, fresh_scratch_dir, load
from ma_anonymization_etl_spark.streaming.runner import (
    run_foreach_batch,
    run_to_memory,
    stream_events,
)

_SCALE = 10000
_SQL_SUM_VALUE = (
    f"CAST(SUM(CAST(FLOOR(value * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE}"
)


def _store_exists(spark: SparkSession, path: str) -> bool:
    """Cold-store probe for the k10/k26 incremental fingerprint stores:
    True iff ``path`` exists per the Hadoop FileSystem that OWNS its
    scheme.  ``os.path.isdir`` is only right for bare local paths — for
    an hdfs:// / s3a:// / file:// store URI it is always False, so
    every batch would read as cold and cross-batch pairs would silently
    drop, the exact failure the cold-store narrowing is meant to
    prevent (ADVICE r11).  Genuine read errors (permissions, transient
    IO) still surface from the parquet read itself."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


@register(
    "a5_stream_source_tumbling",
    oracle=f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
       COUNT(*) AS n, {_SQL_SUM_VALUE} AS sum_value
FROM events GROUP BY 1, 2
""",
)
def a5_stream_source_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a5: readStream file source → tumbling-window aggregate →
    complete-mode memory sink.  The oracle checks the STREAM's final
    output against batch semantics — the strongest equivalence check
    available (SURVEY §5.3)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.floor(F.col("value") * _SCALE)).cast("double") / _SCALE).alias(
                "sum_value"
            ),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    return run_to_memory(agg, "a5_tumbling", "complete")


@register(
    "a6_stream_sink_parquet",
    oracle="""
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
""",
)
def a6_stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a6: micro-batch parquet sink via foreachBatch + checkpoint
    (exactly-once file output); verified by re-reading the sink."""
    out_dir = fresh_scratch_dir(spark, "a6_sink")
    ev = stream_events(spark, sf_dir).select("event_id", "event_type")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out_dir)

    run_foreach_batch(ev, write_batch)
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "k5_watermark_late_drop",
    # The staged source is ONE parquet file → one availableNow
    # micro-batch, so append-mode emission is deterministic: exactly the
    # hourly windows closed under the final watermark (max ts − 10 min)
    # emit.  The oracle encodes that emission rule in batch SQL; the
    # multi-batch LATE-ARRIVAL semantics (a second batch older than the
    # watermark is dropped) stay pinned by test_streaming.py's crafted
    # two-batch scenario, which no single-batch oracle can express.
    oracle="""
WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, COUNT(*) AS n
FROM events, m
GROUP BY ws, event_type, wm
HAVING ws + INTERVAL 1 HOUR <= wm
""",
)
def k5_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k5: watermarked tumbling aggregate — events later than 10 min
    behind max event-time are dropped from closed windows.  See the
    oracle comment for what the hash check covers vs the pytest."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    return run_to_memory(agg, "k5_watermark", "append")


@register(
    "k7_stateful_running",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events, {_SQL_SUM_VALUE} AS total_value
FROM events GROUP BY user_id
""",
)
def k7_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k7: custom stateful per-user running aggregate across
    micro-batches via applyInPandasWithState (GroupState).  The state
    carries (count, scaled-int sum) so the streamed total is exact;
    with availableNow the final emission per user must equal the batch
    groupBy — which is exactly what the oracle checks."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, scaled = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            scaled += int(sum(int(v * _SCALE // 1) for v in pdf["value"]))
        state.update((n, scaled))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [scaled / _SCALE]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        stateStructType="n BIGINT, scaled BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(out, "k7_stateful", "update")
    # Multiple emissions per user across batches: totals are monotone
    # (value > 0), so the final state is the row-max per user.
    return mem.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )


def _j3_oracle() -> str:
    from ma_anonymization_etl_spark.operators.llm import _J3_ORACLE

    return _J3_ORACLE


@register("k10_stream_minhash_dedup", oracle=_j3_oracle())
def k10_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k10 (extension): incremental near-dup dedup — the 100 TB
    ingestion shape.  Documents arrive in micro-batches (originals,
    then perturbed copies, maxFilesPerTrigger=1).  Each batch runs j3's
    ``minhash_lsh_pairs`` twice — within the batch, and batch × an
    accumulating parquet store of earlier batches' shingles and band
    keys — verified pairs land in a pairs sink, and the batch joins the
    store.  The resulting pair set must equal single-shot batch j3 on
    the same corpus — asserted in tests/test_streaming.py.  Every call
    owns a fresh scratch directory, so the lazily read result of one
    call survives the next."""
    from ma_anonymization_etl_spark.operators.llm import (
        _MINHASH_TAU,
        banded_signatures,
        minhash_lsh_pairs,
        word_shingles,
    )

    base = fresh_scratch_dir(spark, "k10")
    in_dir, sh_store, band_store, pairs_dir = (
        os.path.join(base, d) for d in ("in", "shingles", "bands", "pairs")
    )
    os.makedirs(in_dir)

    d = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet").select("doc_id", "text")
    d.write.parquet(os.path.join(in_dir, "batch1"))
    d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    ).write.parquet(os.path.join(in_dir, "batch2"))

    def process(batch: DataFrame, batch_id: int) -> None:
        sh = batch.select("doc_id", word_shingles("text", 3).alias("shingles")).persist()
        bands = banded_signatures(sh).persist()
        pairs = minhash_lsh_pairs(sh, _MINHASH_TAU, banded=bands)
        # Cold store = the path does not exist yet (first batch).  Any
        # OTHER read failure (corrupt store, transient IO) must raise —
        # treating it as cold would silently drop cross-batch pairs.
        if _store_exists(spark, sh_store):
            seen = minhash_lsh_pairs(
                sh,
                _MINHASH_TAU,
                other=spark.read.parquet(sh_store),
                banded=bands,
                other_banded=spark.read.parquet(band_store),
            )
            pairs = pairs.unionByName(
                seen.select(
                    F.least("a_id", "b_id").alias("a_id"),
                    F.greatest("a_id", "b_id").alias("b_id"),
                    "jaccard",
                )
            )
        pairs.write.mode("append").parquet(pairs_dir)
        sh.write.mode("append").parquet(sh_store)
        bands.write.mode("append").parquet(band_store)
        bands.unpersist()
        sh.unpersist()

    src = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "*"))
    )
    run_foreach_batch(src, process)
    return spark.read.parquet(pairs_dir)


def _j60_stream_oracle() -> str:
    from ma_anonymization_etl_spark.operators.llm import _J60_ORACLE

    return _J60_ORACLE


@register("k26_stream_fuzzy_dedup", oracle=_j60_stream_oracle())
def k26_stream_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k26 (extension): j60's edit-distance fuzzy dedup as the INGEST
    shape — the k10 pattern at character granularity.  Documents arrive
    in micro-batches (originals, then the 2-char-substituted twins,
    maxFilesPerTrigger=1).  Each batch runs j60's ``fuzzy_dup_pairs``
    twice — within the batch, and batch × an accumulating parquet store
    of earlier batches' (doc_id, text) — verified pairs land in a pairs
    sink, and the batch joins the store.  The two pair sets are
    disjoint (a within-batch pair has both ids in the batch, a store
    pair one), so the sink holds each pair once.  The accumulated pair
    set must equal single-shot batch j60 on the same corpus — the
    oracle IS j60's (and tests/test_streaming.py asserts engine-side
    equality too).  Per-ingest cost scales with the batch's block
    collisions, never the corpus pair count.  Every call owns a fresh
    scratch directory, so the lazily read result of one call survives
    the next."""
    from ma_anonymization_etl_spark.operators.llm import _j60_twins, fuzzy_dup_pairs

    base = fresh_scratch_dir(spark, "k26")
    in_dir, store, pairs_dir = (os.path.join(base, d) for d in ("in", "store", "pairs"))
    os.makedirs(in_dir)

    d = (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        .select("doc_id", F.lower(F.col("text")).alias("text"))
    )
    d.write.parquet(os.path.join(in_dir, "batch1"))
    _j60_twins(d).write.parquet(os.path.join(in_dir, "batch2"))

    def process(batch: DataFrame, batch_id: int) -> None:
        pairs = fuzzy_dup_pairs(batch)
        # Cold store = path absent (first batch); genuine read errors
        # surface instead of silently dropping cross-batch pairs.
        if _store_exists(spark, store):
            seen = fuzzy_dup_pairs(batch, other=spark.read.parquet(store))
            pairs = pairs.unionByName(
                seen.select(
                    F.least("a_id", "b_id").alias("a_id"),
                    F.greatest("a_id", "b_id").alias("b_id"),
                    "dist",
                )
            )
        pairs.write.mode("append").parquet(pairs_dir)
        batch.write.mode("append").parquet(store)

    src = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "*"))
    )
    run_foreach_batch(src, process)
    return spark.read.parquet(pairs_dir)


@register(
    "k9_stream_anonymize",
    oracle="""
WITH t AS (
  SELECT sha256('stream|' || CAST(user_id AS VARCHAR)) AS user_token,
         event_type,
         CAST(FLOOR(value / 50) AS BIGINT) * 50 AS value_bin
  FROM events
), counted AS (
  SELECT *, COUNT(*) OVER (PARTITION BY event_type, value_bin) AS cnt FROM t
)
SELECT user_token, event_type, value_bin FROM counted WHERE cnt >= 5
""",
)
def k9_stream_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k9: the reference's signature move — the anonymization route
    applied per micro-batch via foreachBatch, sanitized output written
    to parquet.  Map-side steps (pseudonymize, generalize) are
    batch-local and stream-safe; the k-enforcement is applied on the
    accumulated sink (cross-batch classes), mirroring how a periodic
    compaction job would enforce k over the landed data."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    out_dir = fresh_scratch_dir(spark, "k9_sink")
    ev = stream_events(spark, sf_dir).select("user_id", "event_type", "value")
    route = [
        {"op": "pseudonymize_sha2", "col": "user_id", "salt": "stream|", "out": "user_token"},
        {"op": "generalize_numeric", "col": "value", "width": 50, "out": "value_bin"},
        {"op": "select", "cols": ["user_token", "event_type", "value_bin"]},
    ]

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        anonymize_pipeline(batch, route).write.mode("append").parquet(out_dir)

    run_foreach_batch(ev, write_batch)
    landed = spark.read.parquet(out_dir)
    return anonymize_pipeline(
        landed, [{"op": "k_enforce_suppress", "qis": ["event_type", "value_bin"], "k": 5}]
    )


def _i26_oracle() -> str:
    from ma_anonymization_etl_spark.operators.llm import _I26_ORACLE

    return _I26_ORACLE


@register("k14_stream_pii_scrub", oracle=_i26_oracle())
def k14_stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k14 (extension): i26's free-text PII scrubbing applied per
    micro-batch — the ingest-time shape for a crawl pipeline (scrub
    BEFORE the raw text ever lands).  Documents arrive in two
    micro-batches (maxFilesPerTrigger=1); each batch runs the same
    chained-regexp projection as batch i26 (purely map-side, so
    batch-local application is trivially stream-safe — no cross-batch
    state, unlike k10's fingerprint store) and appends to the
    sanitized sink.  Output must equal single-shot i26 row-for-row,
    so it shares i26's oracle."""
    from ma_anonymization_etl_spark.operators.llm import pii_scrub_projection

    base = fresh_scratch_dir(spark, "k14")
    in_dir, out_dir = os.path.join(base, "in"), os.path.join(base, "out")
    os.makedirs(in_dir)

    d = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    half = d.filter(F.col("doc_id") % 2 == 0)
    half.write.parquet(os.path.join(in_dir, "batch1"))
    d.exceptAll(half).write.parquet(os.path.join(in_dir, "batch2"))

    def scrub_batch(batch: DataFrame, batch_id: int) -> None:
        pii_scrub_projection(batch).write.mode("append").parquet(out_dir)

    src = (
        spark.readStream.schema("doc_id BIGINT, text STRING, source STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "*"))
    )
    run_foreach_batch(src, scrub_batch)
    return spark.read.parquet(out_dir)


@register(
    "k15_stream_stream_join",
    # One staged file → one availableNow micro-batch per side, so the
    # inner interval join emits every match in that batch and append
    # emission is deterministic batch SQL.  The multi-batch semantics
    # (watermark-bounded state, late-side buffering) are pinned by
    # tests/test_streaming.py::test_stream_stream_join_two_batches.
    oracle="""
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       ROUND(epoch(p.ts) - epoch(v.ts), 6) AS lag_sec
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
)
def k15_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k15 (extension): stream-stream interval join — views joined to
    purchases by the same user within the following hour (attribution).

    Both sides are independent readStream sources with 1-hour
    watermarks; the time-bound conjunct lets Spark expire join state
    once the watermark passes view.ts + 1h, so state is O(events/hour),
    not O(stream) — the property that makes this run forever on an
    unbounded source.  lag_sec subtracts exact microsecond epochs
    (both engines represent them exactly in doubles)."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
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
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.round(F.col("p_ts").cast("double") - F.col("v_ts").cast("double"), 6).alias(
            "lag_sec"
        ),
    )
    return run_to_memory(joined, "k15_ssjoin", "append")


@register(
    "k16_stream_outer_join",
    # Outer-join null rows emit only when the view's join state EXPIRES:
    # global watermark (min over both streams' max ts, minus the 1-hour
    # delay) must pass v_ts + 1h, the latest instant a purchase could
    # still match.  availableNow's trailing no-data micro-batch advances
    # the watermark after the data batch, flushing exactly that state —
    # the oracle encodes the eviction rule in batch SQL (verified
    # emission-count-exact in this round's probe: 1936/1936 nulls).
    oracle="""
WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
           FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
m AS (SELECT LEAST((SELECT max(v_ts) FROM v), (SELECT max(p_ts) FROM p))
             - INTERVAL 1 HOUR AS wm)
SELECT v.user_id, view_id, purchase_id
FROM v JOIN p ON v.user_id = p.user_id
             AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.user_id, view_id, CAST(NULL AS BIGINT) AS purchase_id
FROM v, m
WHERE NOT EXISTS (SELECT 1 FROM p
                  WHERE p.user_id = v.user_id
                    AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR)
  AND v_ts + INTERVAL 1 HOUR < wm
""",
)
def k16_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k16 (extension): stream-stream LEFT OUTER interval join — k15's
    attribution join, but views with no purchase in the following hour
    emit a null-matched row once their state expires (the
    "unconverted sessions" feed).  Append-mode outer emission is
    driven by watermark passage, so the result is deterministic for a
    bounded source; state stays O(events/hour) exactly as in k15."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
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
        "leftOuter",
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
    return run_to_memory(joined, "k16_outer", "append")


@register(
    "k17_stream_dedup_within_watermark",
    # One availableNow batch holds every event inside the state window,
    # so exactly one row per key emits; projecting ONLY the key columns
    # makes "which occurrence" irrelevant and the emission deterministic.
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def k17_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k17 (extension): dropDuplicatesWithinWatermark — the Spark 3.5+
    dedup whose state EXPIRES with the watermark, unlike k6's
    dropDuplicates (state grows with distinct keys forever).  The
    trade: duplicates separated by more than the watermark delay are
    re-emitted; for ingestion dedup (retries, replays arrive close
    together) that is the right contract and the only one that runs
    unbounded at 100 TB."""
    ev = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
    )
    dd = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory(dd, "k17_ddww", "append")


@register(
    "k18_stream_session_window",
    # Append-mode session emission: a session emits once the watermark
    # (max ts − 10 min after the single availableNow batch) passes its
    # end (= last event + 30-min gap).  The oracle replays k4's exact
    # session semantics plus that emission rule.
    oracle="""
WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
FROM numbered, m
GROUP BY user_id, session_id, wm
HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm
""",
)
def k18_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k18 (extension): session windows ON THE STREAM — session_window
    with a watermark, so Spark merges per-key session state across
    micro-batches and emits each session only when the watermark proves
    no more events can extend it.  k4 is the batch form; this is the
    shape a live sessionization pipeline runs, with state bounded by
    (open sessions × keys), not stream length."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, "k18_session", "append")


@register(
    "a10_rate_source",
    # rate-micro-batch with startTimestamp=0 is fully deterministic:
    # batch 0 carries values 0..rowsPerBatch-1 with timestamps advancing
    # 1s per 100 values from epoch 0 — replayable as a DuckDB range.
    oracle="""
SELECT CAST(value % 10 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(value) AS BIGINT) AS sum_value
FROM range(0, 500) t(value)
GROUP BY bucket
""",
)
def a10_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a10 (extension): the built-in rate-micro-batch source — Spark's
    deterministic load-generator for streaming pipelines (fixed
    rows-per-batch, seeded timestamps), here driven for one availableNow
    batch and aggregated.  The source is how streaming topologies get
    load-tested before a Kafka topic exists; sf_dir is unused by
    construction (the source generates)."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 500)
        .option("startTimestamp", 0)
        .load()
    )
    agg = (
        src.withColumn("bucket", F.col("value") % 10)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    return run_to_memory(agg, "a10_rate", "complete")


@register(
    "k21_exactly_once_sink",
    # The stream is deliberately REPLAYED with a fresh checkpoint after
    # the first run (full batch-0 re-delivery — the checkpoint-loss /
    # failover scenario).  An idempotent batch_id-keyed overwrite sink
    # must absorb the duplicate delivery, so the final table equals
    # plain batch semantics; an append sink here would double every
    # count (pinned in tests/test_streaming.py).
    oracle=f"""
SELECT event_type, COUNT(*) AS n, {_SQL_SUM_VALUE} AS sum_value
FROM events GROUP BY event_type
""",
)
def k21_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k21 (extension): exactly-once parquet output under REPLAY — the
    idempotent foreachBatch sink pattern (Spark's own docs recommend
    exactly this shape): each micro-batch overwrites a directory keyed
    by its batch_id, so re-delivery after a failure (or, as simulated
    here, total checkpoint loss) rewrites the same files instead of
    appending duplicates.  a6 shows the happy path; this one PROVES the
    failure path by running the same bounded stream twice into one
    sink.

    Scale: overwrite-by-batch-directory is atomic at the directory
    rename level per batch and needs no table-format transaction log;
    the read side sees batch_id as a partition column and prunes on it
    like any other.  (With a transactional table format, the same
    batch_id key goes into the commit metadata — the txn variant of
    this exact pattern.)"""
    out_dir = fresh_scratch_dir(spark, "k21_sink")

    def deliver_once() -> set[int]:
        ev = stream_events(spark, sf_dir).select("event_id", "event_type", "value")
        written: set[int] = set()

        def write_batch(batch: DataFrame, batch_id: int) -> None:
            written.add(batch_id)
            batch.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )

        # run_foreach_batch creates a FRESH checkpoint per call, so the
        # second call re-delivers every batch under the same batch_ids.
        run_foreach_batch(ev, write_batch)
        return written

    first = deliver_once()
    replay = deliver_once()  # simulated failover replay
    # Enforce — don't assume — idempotence under replay (ADVICE r4): the
    # overwrite-by-batch-directory guarantee only holds if the replay
    # rewrote every directory the first delivery created.  If the second
    # run produced a different batch_id set, stale first-run directories
    # would survive and double-count, so prune any batch dir the latest
    # delivery did not rewrite, then assert the sets agreed (this bounded
    # deterministic source must replay identical batch boundaries).
    for stale in first - replay:
        shutil.rmtree(os.path.join(out_dir, f"batch_id={stale}"), ignore_errors=True)
    if first != replay:
        raise AssertionError(
            f"replay batch boundaries diverged: first={sorted(first)} "
            f"replay={sorted(replay)} — stale dirs pruned, but the "
            "exactly-once demonstration requires identical batch_ids"
        )
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * _SCALE)).cast("double") / _SCALE).alias(
                "sum_value"
            ),
        )
    )


@register(
    "k22_continuous_aggregate",
    # Same aggregate contract as k1 — but computed INCREMENTALLY: the
    # stream is forced through multiple micro-batches
    # (maxFilesPerTrigger=1 over a two-file staging), each batch writes
    # only its PARTIAL (count + scaled-int64 sum) per bucket, and the
    # read side merges partials.  Merged partials ≡ full recompute is
    # exactly what the oracle checks.
    oracle=f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
       COUNT(*) AS n, {_SQL_SUM_VALUE} AS sum_value
FROM events GROUP BY 1, 2
""",
)
def k22_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k22 (extension): CONTINUOUS AGGREGATE maintenance — the
    hypertable-rollup shape: a streaming pipeline keeps an hourly
    rollup table up to date by writing per-micro-batch PARTIAL
    aggregates (count + exact scaled-int64 sum per bucket) and letting
    reads merge them.  n3 proves the partial-merge algebra batch-side;
    this runs it through real Structured Streaming micro-batches: the
    event feed is staged as two files, maxFilesPerTrigger=1 makes
    availableNow deliver them as separate batches, and each batch's
    foreachBatch appends only its partial under a batch_id-keyed dir
    (k21's idempotent-sink pattern, so replays cannot double-count).

    Scale: each micro-batch shuffles only its OWN rows into partials
    (O(batch) work, not O(history)); the rollup read merges O(buckets ×
    batches) partial rows, compactable at any time (n4) without
    changing results because the merge is associative and exact."""
    def _write(p: str) -> None:
        e = load(spark, sf_dir, "events")
        cut = "2024-01-16"
        e.filter(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(p, "half=0")
        )
        e.filter(F.col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(p, "half=1")
        )

    stage_dir = ensure_staged(spark, "k22_stage", sf_dir, _write)
    rollup_dir = fresh_scratch_dir(spark, "k22_rollup")
    schema = spark.read.parquet(stage_dir).drop("half").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )

    def write_partial(batch: DataFrame, batch_id: int) -> None:
        partial = (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("pn"),
                F.sum(F.floor(F.col("value") * _SCALE)).alias("pscaled"),
            )
            .select(F.col("w.start").alias("ws"), "event_type", "pn", "pscaled")
        )
        partial.write.mode("overwrite").parquet(
            os.path.join(rollup_dir, f"batch_id={batch_id}")
        )

    run_foreach_batch(stream, write_partial)
    partials = spark.read.parquet(rollup_dir)
    return partials.groupBy("ws", "event_type").agg(
        F.sum("pn").alias("n"),
        (F.sum("pscaled").cast("double") / _SCALE).alias("sum_value"),
    )


@register(
    "k24_stream_upsert_sink",
    oracle="""
SELECT user_id AS key,
       CAST(event_id AS BIGINT) AS last_seq,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
FROM (
  SELECT user_id, event_id, value,
         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND op = 'U'
""",
)
def k24_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k24 (extension): STREAMING upsert materialization — n11's CDC
    apply run through real micro-batches: the event feed (key =
    user_id, seq = event_id, every 10th op a delete tombstone) is
    staged as three files, maxFilesPerTrigger=1 delivers them as
    separate batches, and each foreachBatch merges its batch into the
    keyed state table (compact batch -> union previous state ->
    last-writer-wins by seq).  Tombstones are RETAINED in state so a
    later batch cannot resurrect a deleted key out of order; the read
    side filters them.  The oracle is the batch compaction over the
    whole feed — merge-per-batch must equal compact-once because
    last-writer-wins by a total seq order is associative.

    Scale: per batch the work is O(batch + state-delta) — one window
    over the batch, one key-partitioned merge join against current
    state; this is the foreachBatch MERGE INTO pattern Spark's docs
    prescribe for streaming upserts (a transactional table format
    would take the same merge via its commit log)."""
    from pyspark.sql import Window

    def _write(p: str) -> None:
        e = load(spark, sf_dir, "events")
        for i in range(3):
            e.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(p, f"third={i}"))

    stage_dir = ensure_staged(spark, "k24_stage", sf_dir, _write)
    state_root = fresh_scratch_dir(spark, "k24_state")
    schema = spark.read.parquet(stage_dir).drop("third").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    w = Window.partitionBy("key").orderBy(F.col("last_seq").desc())
    cur = {"path": None}

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        delta = batch.select(
            F.col("user_id").alias("key"),
            F.col("event_id").alias("last_seq"),
            F.when(F.col("event_id") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        if cur["path"] is not None:
            delta = delta.unionByName(spark.read.parquet(cur["path"]))
        merged = (
            delta.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        nxt = os.path.join(state_root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)
        cur["path"] = nxt

    run_foreach_batch(stream, merge_batch)
    if cur["path"] is None:
        raise AssertionError("k24: stream delivered no batches")
    return (
        spark.read.parquet(cur["path"])
        .filter(F.col("op") != "D")
        .select("key", "last_seq", "value_cents")
    )


@register(
    "k25_stream_histogram_maintenance",
    # d16's mergeable-histogram algebra run through real micro-batches:
    # per-batch BIN-COUNT partials land under batch_id dirs (k21's
    # idempotent sink), the read side SUM-merges and takes quantile
    # edges via integer cumulative crossings.  Merged partials == full
    # recompute is exactly what the oracle checks.
    oracle="""
WITH b AS (
  SELECT event_type, CAST(FLOOR(value / 25) AS BIGINT) AS bin, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM b
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cc * 2 >= n THEN bin END) * 25 AS BIGINT) AS p50_bin_lo,
       CAST(MIN(CASE WHEN cc * 20 >= n * 19 THEN bin END) * 25 AS BIGINT)
         AS p95_bin_lo
FROM cum GROUP BY event_type
""",
)
def k25_stream_histogram_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k25 (extension): STREAMING maintenance of d16's mergeable
    quantile histogram — the event feed arrives as three micro-batches
    (maxFilesPerTrigger=1 over a three-way staging); each foreachBatch
    writes only its own per-(event_type, bin) COUNT partial under a
    batch_id-keyed dir (k21's idempotent overwrite sink, so replays
    cannot double-count), and the read side SUM-merges partials and
    reads p50/p95 off the cumulative histogram with the same integer
    crossings as d16.  Merging per-batch partials must equal the
    full-corpus histogram because bin counting is additive — which is
    precisely the property the oracle's direct recompute checks.

    Scale: per batch the work is O(batch) plus a (types x bins)-row
    write; the dashboard read merges O(types x bins x batches) partial
    rows and never re-scans history — quantile monitoring that stays
    O(1)-ish per refresh at any corpus size (compact partials with n4
    whenever batches accumulate)."""
    def _write(p: str) -> None:
        e = load(spark, sf_dir, "events")
        for i in range(3):
            e.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(p, f"third={i}"))

    stage_dir = ensure_staged(spark, "k25_stage", sf_dir, _write)
    part_dir = fresh_scratch_dir(spark, "k25_partials")
    schema = spark.read.parquet(stage_dir).drop("third").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )

    def write_partial(batch: DataFrame, batch_id: int) -> None:
        partial = batch.groupBy(
            "event_type", F.floor(F.col("value") / 25).cast("long").alias("bin")
        ).agg(F.count(F.lit(1)).alias("pc"))
        partial.write.mode("overwrite").parquet(
            os.path.join(part_dir, f"batch_id={batch_id}")
        )

    run_foreach_batch(stream, write_partial)
    from ma_anonymization_etl_spark.operators.relational import histogram_quantiles

    merged = (
        spark.read.parquet(part_dir)
        .groupBy("event_type", "bin")
        .agg(F.sum("pc").alias("c"))
    )
    return histogram_quantiles(merged, "event_type", 25)
