"""Headline benchmark — runs representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Results are materialized with the noop sink (full execution, no driver
collect) so timings measure the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

from ma_anonymization_etl_spark import registry
from ma_anonymization_etl_spark.session import get_spark

# Stable headline set — extended as operator groups land.
HEADLINE = [
    "d1_agg_hash_pricing_summary",
    "c1_join_broadcast",
    "c2_join_shuffle",
    "c6_join_range_theta",
    "c7_join_asof",
    "d3_count_distinct",
    "d7_cube",
    "d11_median_percentile",
    "f4_topk_per_group",
    "g4b_except_all",
    # later phases (present only once implemented):
    "e5_win_running",
    "k1_win_tumbling",
    "k3_win_session_batch",
    "i17_k_enforce_suppress",
    "i23_anonymize_pipeline",
    "j3_dedup_near_minhash",
    "j4_text_tokenize_wordcount",
    "j6_tf_idf",
    "j8_sim_topk",
    "j10_knn_classify",
    # j21/j10b run j8/j10's sequential fold under their own names (one
    # engine per oracle contract); they stay so the headline set and
    # its history stay comparable.  Then the LSH-composed pair search.
    "j21_sim_topk_vectorized",
    "j10b_knn_vectorized",
    "j9b_sim_pair_lsh",
    # Round-6 additions (BASELINE.md round-6 note): the rounds-4/5
    # marquee operators, appended so the 23 legacy entries above stay
    # comparable across BENCH_r* history.
    "i22c_mondrian_hybrid",
    "p1b_pagerank_converged",
    "j38_heavy_hitters_routed",
    "j44_semantic_dedup",
    # Round-7 additions (BASELINE.md round-7 note): the round-7 marquee
    # operators — exact prefix-filtered set-similarity join, incremental
    # batch-vs-corpus dedup, giant-component CC, and the skyline —
    # appended so the legacy-23 and round-6-27 subtotals stay comparable.
    "j50_jaccard_prefix_join",
    "j53_incremental_dedup",
    "p7_connected_components",
    "f6_skyline_pareto",
    # Round-8 additions (BASELINE.md round-8 note): the log-round CC
    # variant, the k-core peeler, and j9b's Arrow-verify production
    # twin — appended so every earlier subtotal stays comparable.
    "p7b_cc_altstar",
    "p8_kcore",
    "j9d_sim_pair_lsh_fast",
    # Round-9 additions (BASELINE.md round-9 note): the cardinality-
    # routed jaccard join (exact branch at bench SF), the df-capped
    # containment contract, substring-dedup-as-action, and BM25 —
    # appended so every earlier subtotal stays comparable.
    "j50b_jaccard_routed",
    "j52b_containment_capped",
    "j32b_substring_dedup",
    "j54_bm25_topk",
    "j44b_semdedup_fast",
    # round-10 additions (BASELINE.md round-10 note)
    "j55_ann_routed",
    "j56_maximal_dup_spans",
    "j57_ann_multiprobe",
    "j58_ann_cost_routed",
    # round-10b additions (BASELINE.md round-10b note): the prebuilt-
    # index probe pair (j59 pays the one-time IVF build, j59b measures
    # the amortized probe-only cost against the session-cached index —
    # read them TOGETHER), char-level ExactSubstr, edit-distance fuzzy
    # dedup, and BM25F.  Earlier subtotals stay comparable.
    "j59_ann_prebuilt_probe",
    "j59b_ann_prebuilt_reprobe",
    "j56b_maximal_dup_spans_chars",
    "j60_fuzzy_dedup_edit",
    "j54c_bm25f_topk",
    # round-11 additions (BASELINE.md round-11 note): the in-code skew
    # guards — j56c (salted gram count on the hot-footer corpus) and
    # j60c (block df-cap on the hot-prefix corpus) — plus multiprobe
    # kNN labelling.  Earlier subtotals stay comparable.
    "j56c_maximal_dup_spans_skewguard",
    "j60c_fuzzy_dedup_capped",
    "j64_knn_label_ann",
    # round-12 addition (BASELINE.md round-12 continuation note): the
    # Arrow-reranked knn_label twin next to its exact sibling (read the
    # pair together).  Earlier subtotals stay comparable.
    "j64b_knn_label_ann_fast",
]


def materialize(df) -> int:
    try:
        df.write.mode("overwrite").format("noop").save()
        return -1
    except Exception:
        return len(df.collect())


def noise_floor(spark) -> float:
    """Median wall-time of a FIXED data-independent calibration job
    (sum over a 50M-row range — pure codegen arithmetic, no IO, no
    shuffle reads).  Its cost depends only on ambient machine load, so
    an inflated capture carries its own explanation: compare
    noise_floor across BENCH_r* records before reading anything into
    per-query deltas (BENCH_r05's +20-60% uniform shift was exactly
    this — concurrent load, not a plan change)."""
    job = lambda: materialize(  # noqa: E731
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1) AS s")
    )
    job()  # warm (codegen compile)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        job()
        samples.append(time.perf_counter() - t0)
    return round(sorted(samples)[1], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", cpus)
    spark = get_spark(app_name="mael-bench")
    spark.sparkContext.setLogLevel("ERROR")

    all_q = registry.load_all()
    names = [n for n in HEADLINE if n in all_q]

    # Calibration first: a load-sensitive constant-work yardstick.
    floor = noise_floor(spark)
    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m = None

    # Warm pass: run every query once untimed so timed runs measure
    # steady-state execution, not first-run codegen compilation.
    for name in names:
        materialize(all_q[name].fn(spark, sf_dir))

    # Median of 3 timed runs per query — a single GC/compilation spike
    # otherwise shows up as round-to-round variance in BENCH history.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    for name in names:
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            materialize(all_q[name].fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "noise_floor": floor,
        "loadavg_1m": load_1m,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
