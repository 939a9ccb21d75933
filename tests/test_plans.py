"""Physical-plan audits (SURVEY §7 Phase 6): the plan-shape guarantees
the 100 TB story depends on — pushdown reaching the scan, broadcasts
staying broadcast, top-k avoiding global sorts, and zero Python on hot
paths.  A correct result from a wrong plan is a scale bug."""

from __future__ import annotations

import contextlib
import io

import pytest

from ma_anonymization_etl_spark import registry
from tests.conftest import SF_ORACLE

ALL = registry.load_all()

# Operators allowed to show Python eval nodes: the explicitly
# Python-surface ops (L group, SimHash, multimodal, stateful streaming).
PYTHON_OK = {
    "l1_udf_scalar_py", "l2_udf_pandas_scalar", "l3_udaf_pandas_grouped",
    "l4_grouped_map", "l5_udtf", "l6_udf_pandas_iterator", "j3b_dedup_simhash",
    "m2_decode_features", "m3_frame_sample", "m4_resize", "m5_audio_energy",
    "m7_modality_router",  # Arrow-batched per-row modality dispatch
    "j9b_sim_pair_lsh",  # LSH signatures via Arrow matmul; verify is declarative
    "j9d_sim_pair_lsh_fast",  # deliberate Arrow/numpy verify twin of j9b
}

# Streaming queries execute eagerly (memory sink) — skip plan text checks.
STREAMING = {n for n in ALL if n.startswith(("a5_", "a6_", "a8_", "k5_", "k7_", "k9_"))}


def plan_of(spark, name: str) -> str:
    df = ALL[name].fn(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name",
    sorted(n for n in ALL if n not in PYTHON_OK and n not in STREAMING),
)
def test_no_python_on_hot_path(spark, name):
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python in hot path"
    assert "ArrowEvalPython" not in plan, f"{name}: unexpected pandas UDF in hot path"


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "b2_filter_pred")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_custkey)" in plan or "In(o_orderstatus" in plan


def test_column_pruning_in_read_schema(spark):
    plan = plan_of(spark, "b1_project")
    # Only the three projected columns reach the parquet reader.
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "c_custkey" in rs and "c_name" in rs and "c_mktsegment" in rs
    assert "c_acctbal" not in rs and "c_nationkey" not in rs


def test_dim_joins_are_broadcast(spark):
    plan = plan_of(spark, "c1_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "f3_topk_global")
    assert "TakeOrderedAndProject" in plan


def test_flagship_partial_aggregation(spark):
    plan = plan_of(spark, "d1_agg_hash_pricing_summary")
    # Two-phase hash aggregation (map-side partial + final).
    assert plan.count("HashAggregate") >= 2
    # Codegen markers ("*(n) Op") appear once AQE finalizes — execute first.
    df = ALL["d1_agg_hash_pricing_summary"].fn(spark, SF_ORACLE)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    final = buf.getvalue()
    assert "isFinalPlan=true" in final
    assert "*(" in final, "whole-stage codegen not engaged"


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "c4_join_semi")
    assert "LeftAnti" in plan_of(spark, "c5_join_anti")


def test_sql_text_gets_same_optimizations(spark):
    """SQL text through run_sql must hit the same Catalyst physical
    strategies as the DataFrame twins: pushed scans for s6, broadcast
    dims for s5."""
    s6 = plan_of(spark, "s6_tpch_q6_sql")
    assert "PushedFilters: [" in s6
    assert "l_shipdate" in [ln for ln in s6.splitlines() if "PushedFilters" in ln][0]
    s5 = plan_of(spark, "s5_tpch_q5_sql")
    assert "BroadcastHashJoin" in s5  # nation/region/supplier side
    s1 = plan_of(spark, "s1_tpch_q1_sql")
    assert s1.count("HashAggregate") >= 2  # partial + final


def test_custom_datasource_is_batch_scan(spark):
    plan = plan_of(spark, "a7_custom_pyds")
    assert "BatchScan synthetic_events" in plan
    # Aggregation still two-phase on top of the Python source.
    assert plan.count("HashAggregate") >= 2


def test_pii_scrub_is_pure_map_side(spark):
    """i26's chained-regexp scrub must stay one codegen'd projection
    over the scan: no Exchange (shuffle), no Python eval of any kind —
    the property that makes ingest-time scrubbing (k14) free at 100 TB."""
    plan = plan_of(spark, "i26_pii_scrub_text")
    assert "Exchange" not in plan, "i26 must not shuffle"
    assert "EvalPython" not in plan, "i26 must not leave the JVM"
    # formatted explain marks codegen'd operators with a leading '*'
    assert "* Project" in plan, "scrub projection fell out of codegen"


def test_dp_noise_is_shuffle_free_after_aggregate(spark):
    """i28-i30: the DP mechanism must add NOTHING to the plan beyond
    the underlying aggregate — noise is per-group scalar expressions,
    so exactly one hash-partitioning Exchange (the groupBy) and no
    Python eval may appear."""
    for name in ("i28_dp_count", "i29_dp_sum_clipped", "i30_dp_histogram"):
        plan = plan_of(spark, name)
        n_shuffles = sum(
            1 for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
        )
        assert n_shuffles <= 1, f"{name}: DP noise added a shuffle\n{plan}"
        assert "EvalPython" not in plan, f"{name}: noise left the JVM"
        assert plan.count("HashAggregate") >= 2, f"{name}: lost partial aggregation"


def test_segment_dedup_is_two_shuffle(spark):
    """j26: first-occurrence survivorship is ONE window keyed by
    segment text plus one groupBy back to doc_id — no join, no
    cartesian anywhere; the shape that survives any corpus size."""
    plan = plan_of(spark, "j26_segment_dedup")
    assert "Window" in plan
    assert "Join" not in plan, "j26 must not join"
    assert "CartesianProduct" not in plan
    n_shuffles = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_shuffles <= 3, f"j26 shuffles too much:\n{plan}"


def test_new_tpch_sql_plans(spark):
    """Round-4 TPC-H texts keep the plan shapes their semantics imply:
    q19's disjunctive predicate still prunes part columns at the scan,
    q13's left join broadcasts neither fact side wrongly, q15's CTE is
    evaluated once per reference (no re-scan explosion)."""
    s19 = plan_of(spark, "s19_tpch_q19_sql")
    assert "BroadcastHashJoin" in s19 or "SortMergeJoin" in s19
    rs = [ln for ln in s19.splitlines() if "ReadSchema" in ln and "part" in ln]
    assert rs and "p_name" not in rs[0], "q19 reads unused part columns"
    s13 = plan_of(spark, "s13_tpch_q13_sql")
    assert "LeftOuter" in s13
    assert s13.count("HashAggregate") >= 4  # two grouped aggs, each partial+final


def test_n7_scan_is_dynamically_pruned(spark):
    """n7's partitioned fact scan must carry a DynamicPruning partition
    filter fed by the broadcast year dim — without it the query reads
    every year directory and the operator's whole point is gone."""
    plan = plan_of(spark, "n7_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower(), f"no dynamic pruning:\n{plan}"
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "dynamicpruning" in pf[0].lower(), f"pruning not on the scan:\n{plan}"


def test_q1_profile_is_single_scan(spark):
    """q1's whole profile must fold into one aggregate over ONE scan —
    a per-metric re-scan would multiply 100 TB read cost."""
    plan = plan_of(spark, "q1_data_profile")
    tree = plan.split("\n\n")[0]  # operator tree only, not the detail section
    n_scans = tree.count("Scan parquet")
    assert n_scans == 1, f"q1 scans the table {n_scans} times:\n{tree}"


def test_j32_df_join_back_not_self_join(spark):
    """j32 joins the per-gram document-frequency table BACK to grams —
    never grams-to-grams (the Θ(Σ df²) j3c trap).  Two gram-keyed
    exchanges plus the doc-side aggregate is the expected shape."""
    plan = plan_of(spark, "j32_dup_ngram_coverage")
    n_shuffles = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_shuffles <= 5, f"j32 shuffles too much ({n_shuffles}):\n{plan}"


def test_j38_sketch_route_avoids_term_shuffle(spark):
    """The router's whole point at 100 TB: the sketch route must not
    shuffle the FULL token stream by term.  Its plan reads documents
    exactly twice — once unfiltered into the fixed (r, bucket)-keyed
    CMS cells (<=1024 groups), once under the doc_id % 20 sample filter
    for candidates — so every word-keyed exchange sits above the 5%
    sample, never the full corpus.  The exact route's plan, by
    contrast, aggregates the unfiltered stream by word."""
    from ma_anonymization_etl_spark.operators.llm import heavy_hitters_routed

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    sketch_plan = fmt(heavy_hitters_routed(spark, SF_ORACLE, dict_threshold=0))
    tree = sketch_plan.split("\n\n")[0]
    # One full-corpus scan only (the CMS cells aggregate, materialized as a
    # <=1024-row checkpoint before fan-out); the sampled candidate scan is
    # the other.
    assert tree.count("Scan parquet") <= 2, (
        f"sketch route re-scans the corpus:\n{tree}"
    )
    assert "% 20" in sketch_plan, "sample filter missing from sketch plan"
    exact_plan = fmt(heavy_hitters_routed(spark, SF_ORACLE, dict_threshold=10**18))
    n_word_ex_sketch = sketch_plan.count("hashpartitioning(word")
    n_word_ex_exact = exact_plan.count("hashpartitioning(word")
    assert n_word_ex_exact >= 1, "exact route must shuffle by term"
    assert n_word_ex_sketch <= n_word_ex_exact


def test_j31_prefix_sum_is_distributed(spark):
    """Round-7 review: sequence_packing's prefix sum used to be ONE
    global Window.orderBy (every row on one task).  The two-pass scan
    must show (a) a corpus-side window PARTITIONED by the bucket key
    (parallel partial sums) and (b) the offset fold-back arriving by
    broadcast — the only unpartitioned window left runs over the
    P-row totals table, never the corpus."""
    plan = plan_of(spark, "j31_sequence_packing")
    tree = plan.split("\n\n")[0]
    # (a) at least one Exchange hash-partitions by the bucket key — the
    # corpus-side window's requirement (detail section carries columns).
    assert "hashpartitioning(_bk" in plan, (
        f"no bucket-partitioned corpus window:\n{plan}"
    )
    # (b) the offsets fold back by broadcast, never a shuffle join.
    assert "BroadcastExchange" in tree, f"offset fold-back not broadcast:\n{tree}"
    # (c) exactly ONE single-partition exchange — the P-row totals
    # window — and none feeding the corpus-sized window.
    n_single = plan.count("Arguments: SinglePartition")
    assert n_single == 1, f"unexpected single-partition stages ({n_single}):\n{plan}"


# --- Route scale-path guard: no global windows (VERDICT r8 item 8) --------
#
# e3's ntile, n6's z-order ranks, and k23's arrival window use a global
# Window.orderBy BY DESIGN — they are oracle-checkable demo twins whose
# docstrings name the cluster form.  This guard enforces that the
# demo-vs-production distinction stays real: no library function a
# ROUTE can call (the pipeline STEPS table — the engine's production
# composition surface) may put an unpartitioned window over the working
# table.  A logical Window node prints THREE top-level bracket groups
# when partitioned ([exprs], [partitionSpec], [orderSpec]) and TWO when
# global — parsed from the optimized plan, not the SQL text.

import re as _re


def _global_windows(df) -> list[str]:
    """Lines for GLOBAL ORDERED windows: two top-level bracket groups
    ([exprs], [orderSpec]) where the second carries a sort direction.
    Partition-only windows (count-over-group: [exprs], [partitionSpec])
    print two groups too but no ASC/DESC — those parallelize fine."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    out = []
    for line in plan.split("\n"):
        if not _re.search(r"\bWindow \[", line):
            continue
        if line.count("], [") == 1 and _re.search(
            r"\], \[[^\[]*\b(ASC|DESC)\b", line.rsplit("], [", 1)[0] + "], [" + line.rsplit("], [", 1)[1]
        ) and _re.search(r"\b(ASC|DESC)\b", line.rsplit("], [", 1)[1]):
            out.append(line.strip())
    return out


ROUTE_STEP_CASES = [
    ({"op": "dedup_exact", "subset": ["c_mktsegment"]}, None),
    ({"op": "quality_filter", "min_words": 5}, "docs"),
    ({"op": "substring_dedup"}, "docs"),
    ({"op": "near_dedup_drop"}, "docs"),
    ({"op": "fuzzy_dedup_drop"}, "docs"),
    ({"op": "semantic_dedup_drop", "aux": "vectors"}, "docs"),
    ({"op": "knn_label", "aux": "vectors", "out": "topic_label"}, "docs"),
    ({"op": "lang_filter", "keep_langs": ["en"]}, "docs"),
    ({"op": "repetition_filter"}, "docs"),
    ({"op": "split_assign"}, "docs"),
    ({"op": "group_sample_exact_k", "group_col": "lang", "k": 3}, "docs"),
    ({"op": "domain_quota_filter", "host_col": "source", "quota": 5}, "docs"),
    ({"op": "k_enforce_suppress", "qis": ["c_nationkey"], "k": 4}, None),
    ({"op": "l_diversity_enforce", "qis": ["c_nationkey"],
      "sa": "c_acctbal", "l": 2}, None),
    ({"op": "pseudonymize_sha2", "col": "c_name", "salt": "s|"}, None),
    ({"op": "generalize_numeric", "col": "c_acctbal", "width": 500}, None),
    ({"op": "top_bottom_code", "col": "c_acctbal"}, None),
    ({"op": "swap_within_group", "col": "c_acctbal",
      "group_cols": ["c_nationkey"], "seed": 7}, None),
    ({"op": "dp_count", "group": "c_nationkey", "epsilon": 1.0}, None),
    ({"op": "dp_sum_clipped", "group": "c_nationkey", "col": "c_acctbal",
      "lo": 0, "hi": 1000, "epsilon": 1.0}, None),
    # cell_suppression's one global ordered window runs over the
    # POST-AGGREGATE cell table (the i35 greedy complementary pass —
    # bounded by distinct QI combinations, never corpus rows); its
    # docstring documents the bound, so it is exempt below.
    ({"op": "microaggregate", "cls": "c_nationkey", "col": "c_acctbal",
      "tiebreak": "c_custkey", "k": 5}, None),
]


@pytest.mark.parametrize(
    "step,src", ROUTE_STEP_CASES, ids=[c[0]["op"] for c in ROUTE_STEP_CASES]
)
def test_route_steps_have_no_global_window(spark, step, src):
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline
    from ma_anonymization_etl_spark.sources.io import load

    df = load(spark, SF_ORACLE, "documents" if src == "docs" else "customer")
    tables = (
        {step["aux"]: load(spark, SF_ORACLE, "embeddings")}
        if "aux" in step
        else None
    )
    out = anonymize_pipeline(df, [step], tables=tables)
    bad = _global_windows(out)
    assert not bad, f"global window in route step {step['op']}:\n" + "\n".join(bad)


def test_demo_global_windows_stay_out_of_steps():
    """The three documented demo queries with global windows must not
    be reachable as route steps under any op name."""
    from ma_anonymization_etl_spark.plans import pipeline

    demo_engines = {"zorder_rank", "ntile", "arrival_window"}
    for op, fn in pipeline.STEPS.items():
        import inspect

        src = inspect.getsource(fn)
        hit = demo_engines & {w for w in _re.findall(r"\w+", src)}
        assert not hit, f"route step {op} references demo engine {hit}"


def test_j56_island_window_is_partitioned(spark):
    """j56's gaps-and-islands row_number must ride a doc_id-partitioned
    window (per-doc runs), never a global ordered one, and the gram df
    table must join BACK to occurrences — the same no-Θ(Σ df²) shape
    j32 guards."""
    from ma_anonymization_etl_spark.operators.llm import j56_maximal_dup_spans

    out = j56_maximal_dup_spans(spark, SF_ORACLE)
    bad = _global_windows(out)
    assert not bad, "global window in j56:\n" + "\n".join(bad)
    plan = plan_of(spark, "j56_maximal_dup_spans")
    n_shuffles = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_shuffles <= 6, f"j56 shuffles too much ({n_shuffles}):\n{plan}"


def test_j55_exact_branch_broadcasts_query_panel(spark):
    """The routed ANN's exact branch must broadcast the 10-row query
    panel over the scored scan (no shuffle of the corpus by join key)
    and take per-query top-k through a partitioned window."""
    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import ann_topk_routed
    from ma_anonymization_etl_spark.sources.io import load
    from pyspark.sql import functions as F

    e = load(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    out = ann_topk_routed(e, 3, 10**18)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan, f"query panel not broadcast:\n{plan}"
    assert not _global_windows(out), "global window in j55 exact branch"


def test_j57_probe_join_is_broadcast_equality_not_theta(spark):
    """j57's corpus join must be a broadcast EQUALITY join on the cell
    key (probes are the tiny side) — never a Hamming-distance theta
    join, which would nested-loop the corpus against the query panel."""
    plan = plan_of(spark, "j57_ann_multiprobe")
    assert "BroadcastExchange" in plan, f"probe table not broadcast:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"j57 degenerated to a non-equality join:\n{plan}"
    )


def test_j59_probe_broadcasts_panel_and_stays_partitioned(spark):
    """j59's probe must broadcast the query panel onto a cell-keyed
    EQUALITY join against the prebuilt index (per-batch work = panel ×
    occupancy, never a corpus nested loop), and take per-query top-k
    through a partitioned window."""
    plan = plan_of(spark, "j59b_ann_prebuilt_reprobe")
    assert "BroadcastExchange" in plan, f"probe panel not broadcast:\n{plan}"
    # The probe itself must be a hash join on the cell key.  (The index
    # BUILD legitimately contains one BroadcastNestedLoopJoin — the
    # 10-row centroid grid crossed onto the corpus — so asserting "no
    # BNLJ anywhere" would flag the intended broadcast-tiny stage.)
    assert "BroadcastHashJoin" in plan, f"probe not a cell-keyed hash join:\n{plan}"
    assert "CartesianProduct" not in plan, f"unbroadcast cartesian in j59:\n{plan}"
    from ma_anonymization_etl_spark.registry import load_all

    df = load_all()["j59b_ann_prebuilt_reprobe"].fn(spark, SF_ORACLE)
    assert not _global_windows(df), "global window in j59 probe"


def test_j56b_char_island_window_is_partitioned(spark):
    """j56b (char granularity) keeps j56's plan shape: doc-partitioned
    island window, gram-keyed join back, bounded shuffle count."""
    from ma_anonymization_etl_spark.operators.llm import (
        j56b_maximal_dup_spans_chars,
    )

    out = j56b_maximal_dup_spans_chars(spark, SF_ORACLE)
    bad = _global_windows(out)
    assert not bad, "global window in j56b:\n" + "\n".join(bad)
    plan = plan_of(spark, "j56b_maximal_dup_spans_chars")
    n_shuffles = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_shuffles <= 6, f"j56b shuffles too much ({n_shuffles}):\n{plan}"


def test_j56c_skew_guard_plan_has_no_gram_window(spark):
    """j56c's salted guard must remove the gram-partitioned count
    WINDOW (the no-partial-agg skew hazard, VERDICT r10 item 1): the
    only Window left is the doc-partitioned island numbering, dup
    detection runs as partial-aggregated HashAggregates, and the
    coverage join is keyed (gram, salt-bucket) so no hot gram owns a
    task."""
    from ma_anonymization_etl_spark.operators.llm import (
        j56c_maximal_dup_spans_skewguard,
    )

    out = j56c_maximal_dup_spans_skewguard(spark, SF_ORACLE)
    assert not _global_windows(out), "global window in j56c"
    plan = plan_of(spark, "j56c_maximal_dup_spans_skewguard")
    # Formatted plans name operators like "(12) Window".  Two windows
    # are expected: the doc-partitioned island numbering and the
    # gram-partitioned level-2 sum over the PARTIAL table (round 12) —
    # the latter is salt-bounded (<= skew_salt one-row-per-bucket
    # partials per partition), not the occurrence-window hazard.
    n_windows = plan.count(") Window")
    assert n_windows == 2, (
        f"expected island + partial-sum windows, got {n_windows}:\n{plan}"
    )
    assert "partial_count" in plan, f"dup detection lost map-side partials:\n{plan}"
    # The guard's cost contract (round 12): the occurrence explode runs
    # exactly twice — partial counts + coverage join — never three
    # times (the round-11 dual-consumer regression this test pins).
    n_explodes = plan.count(") Generate")
    assert n_explodes == 2, f"expected 2 occurrence explodes, got {n_explodes}:\n{plan}"


def test_j53_batch_side_reads_checkpoint_not_rescans(spark):
    """Round 12: j53's batch shingle table is materialized once
    (repartition + eager localCheckpoint) and its three consumers (band
    index build, exact-verify join, released-id projection) read the
    checkpointed RDD — without the cut each consumer re-ran the
    documents scan + text munging + shingling.

    Round 13 (VERDICT r12 item 1): the original ``<= 3`` parquet-scan
    bound was session-cache-state dependent — the persisted corpus band
    index prints one extra ``Scan parquet`` in its InMemoryRelation
    lineage when the session cache is cold (the driver's runner saw 4,
    a warm capture 3).  The guard is now the structural property (the
    batch subtree is a checkpointed RDD, so ``Scan ExistingRDD``
    appears) plus a cache-state-independent bound: the rescan form
    carried 15 scans; cold-or-warm the checkpointed form carries <= 4."""
    tree = plan_of(spark, "j53_incremental_dedup")
    n_scans = tree.count("Scan parquet")
    assert n_scans <= 4, (
        f"j53 plan re-grew to {n_scans} parquet scans — the batch-side "
        "checkpoint stopped covering its consumers"
    )
    assert "Scan ExistingRDD" in tree, (
        "j53 batch side no longer reads the checkpointed RDD"
    )
