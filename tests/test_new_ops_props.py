"""Semantic property tests for the round-4 continuation operators —
invariants the cross-engine oracle equality cannot express (both
engines could agree on a wrong value; these pin the meaning).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ma_anonymization_etl_spark.operators.anonymize_queries import i34_k_map
from ma_anonymization_etl_spark.operators.dp import i33_dp_quantile
from ma_anonymization_etl_spark.operators.graph import p1_pagerank
from ma_anonymization_etl_spark.operators.llm import (
    j32_dup_ngram_coverage,
    j34_grouped_split,
)
from ma_anonymization_etl_spark.operators.quality import q1_data_profile
from ma_anonymization_etl_spark.sources.io import load
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_i33_dp_median_lands_in_value_range(spark):
    rows = i33_dp_quantile(spark, SF_ORACLE).collect()
    assert len(rows) == 25  # one release per nation — no group dropped
    for r in rows:
        # The exponential mechanism samples an interval BETWEEN order
        # statistics (edges padded to [-1000, 10000]), so the midpoint
        # must land in the padded domain, and with ε≈2.77 and 60 rows
        # per group it should sit near the true median.
        assert -1000.0 <= r.dp_median <= 10000.0
        assert r.n_exact > 0


def test_i34_population_bounds_sample(spark):
    out = i34_k_map(spark, SF_ORACLE)
    assert out.filter("n_sample > k_population").count() == 0
    assert out.filter("n_sample <= 0 OR k_population <= 0").count() == 0


def test_j32_fraction_is_a_fraction(spark):
    out = j32_dup_ngram_coverage(spark, SF_ORACLE)
    assert out.filter("n_dup > n_grams OR dup_frac < 0 OR dup_frac > 1").count() == 0
    assert out.count() == load(spark, SF_ORACLE, "documents").count()


def test_j34_split_partitions_users_exactly(spark):
    rows = {r.split: r for r in j34_grouped_split(spark, SF_ORACLE).collect()}
    assert set(rows) == {"train", "test"}
    assert all(r.n_leaked_users == 0 for r in rows.values())
    e = load(spark, SF_ORACLE, "events")
    assert rows["train"].n_users + rows["test"].n_users == (
        e.select("user_id").distinct().count()
    )
    assert rows["train"].n_events + rows["test"].n_events == e.count()


def test_p1_ranks_are_positive_and_ordered(spark):
    ranks = [r.rank_ppb for r in p1_pagerank(spark, SF_ORACLE).collect()]
    assert len(ranks) == 20
    assert all(r > 0 for r in ranks)
    assert ranks == sorted(ranks, reverse=True)
    # Each rank is a share of ~1e9 total mass; no single node dominates
    # a 2k-node near-regular graph.
    assert ranks[0] < 100_000_000


def test_q1_profile_internal_consistency(spark):
    rows = {r.col_name: r for r in q1_data_profile(spark, SF_ORACLE).collect()}
    n = load(spark, SF_ORACLE, "customer").count()
    for r in rows.values():
        assert r.n_rows == n
        assert 0 <= r.n_distinct <= n
        assert r.n_null == 0  # corpus has no nulls
    assert rows["c_custkey"].n_distinct == n  # primary key
    assert rows["c_nationkey"].min_num == 0.0 and rows["c_nationkey"].max_num == 24.0


def test_i35_publishes_no_small_cell(spark):
    from ma_anonymization_etl_spark.operators.anonymize_queries import (
        i35_cell_suppression,
    )

    out = i35_cell_suppression(spark, SF_ORACLE)
    assert out.filter("status = 'ok' AND published < 5").count() == 0
    assert out.filter("status <> 'ok' AND published IS NOT NULL").count() == 0


def test_i37_rank_swap_preserves_class_multiset(spark):
    from ma_anonymization_etl_spark.operators.anonymize_queries import i37_rank_swap

    out = i37_rank_swap(spark, SF_ORACLE)
    orig = (
        load(spark, SF_ORACLE, "customer")
        .groupBy("c_nationkey", "c_acctbal")
        .agg(F.count(F.lit(1)).alias("n_orig"))
    )
    swapped = out.groupBy(
        "c_nationkey", F.col("swapped_bal").alias("c_acctbal")
    ).agg(F.count(F.lit(1)).alias("n_swap"))
    joined = orig.join(swapped, ["c_nationkey", "c_acctbal"], "full")
    assert joined.filter(
        "n_orig IS NULL OR n_swap IS NULL OR n_orig <> n_swap"
    ).count() == 0
    # ...and most records moved off their own value (pairs swapped).
    moved = out.join(
        load(spark, SF_ORACLE, "customer"), "c_custkey"
    ).filter("swapped_bal <> c_acctbal")
    assert moved.count() > 0


def test_i40_microaggregation_invariants(spark):
    from ma_anonymization_etl_spark.operators.anonymize_queries import (
        i40_microaggregation,
    )

    out = i40_microaggregation(spark, SF_ORACLE).cache()
    try:
        # Every group holds between k and 2k-1 records (k = 10).
        sizes = out.select("c_nationkey", "grp", "grp_size").distinct()
        assert sizes.filter("grp_size < 10 OR grp_size >= 20").count() == 0
        # Every published value is shared by grp_size records — value-level
        # k-anonymity.
        shared = out.groupBy("c_nationkey", "micro_bal").count()
        assert shared.filter("count < 10").count() == 0
        # Row-count preserved.
        n = load(spark, SF_ORACLE, "customer").count()
        assert out.count() == n
    finally:
        out.unpersist()


# --- round-5 operators -----------------------------------------------------


def test_j39_split_partitions_corpus(spark):
    """The three splits partition the corpus exactly (no doc lost or
    double-assigned), shares sum to 1 within rounding, and the ratios
    sit near 80/10/10."""
    from ma_anonymization_etl_spark.operators.llm import j39_train_test_split

    rows = j39_train_test_split(spark, SF_ORACLE).collect()
    n_total = load(spark, SF_ORACLE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    assert abs(sum(r.corpus_share for r in rows) - 1.0) < 1e-4
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) == {"train", "val", "test"}
    assert 0.7 < by_split["train"] / n_total < 0.9
    assert 0.05 < by_split["val"] / n_total < 0.15
    assert 0.05 < by_split["test"] / n_total < 0.15


def test_j40_mixture_quotas_and_kept_bounds(spark):
    """Quotas never exceed the 50% target total (floor can only lose),
    kept never exceeds the source population, and the temperature
    direction holds: the smallest source's kept_rate >= the largest
    source's kept_rate (alpha=0.5 up-weights small sources)."""
    from ma_anonymization_etl_spark.operators.llm import j40_mixture_sample

    rows = j40_mixture_sample(spark, SF_ORACLE).collect()
    n_total = sum(r.n_source for r in rows)
    assert sum(r.quota for r in rows) <= n_total // 2
    for r in rows:
        assert 0 <= r.n_kept <= r.n_source
    smallest = min(rows, key=lambda r: (r.n_source, r.source))
    largest = max(rows, key=lambda r: (r.n_source, r.source))
    # Assert on the RELEASED kept_rate (realized keeps), not just the
    # quota ratio — a regression in the keep predicate itself (e.g. an
    # inverted comparison) must trip this.
    assert smallest.kept_rate >= largest.kept_rate
    assert smallest.quota / smallest.n_source >= largest.quota / largest.n_source


def test_q5_psi_is_nonnegative(spark):
    """Each PSI term (p1-p0)*ln(p1/p0) has both factors of the same
    sign, so PSI >= 0 always — a meaning check the oracle equality
    can't provide (both engines could agree on a sign-flipped formula)."""
    from ma_anonymization_etl_spark.operators.quality import q5_drift_psi

    rows = q5_drift_psi(spark, SF_ORACLE).collect()
    assert len(rows) == 5  # one audit row per event_type
    for r in rows:
        assert r.psi >= 0.0
        assert r.drifted == (r.psi > 0.1)
        assert r.n_base > 0 and r.n_current > 0


def test_n10_legacy_rows_surface_null_channel(spark):
    """The merged read must null-fill exactly the v1 (even-key) rows."""
    from ma_anonymization_etl_spark.operators.etl import n10_schema_evolution

    rows = {r.o_channel: r.n for r in n10_schema_evolution(spark, SF_ORACLE).collect()}
    o = load(spark, SF_ORACLE, "orders")
    n_even = o.filter(F.col("o_orderkey") % 2 == 0).count()
    n_odd = o.filter(F.col("o_orderkey") % 2 == 1).count()
    assert rows[None] == n_even
    assert sum(v for k, v in rows.items() if k is not None) == n_odd


def test_p1b_converges_and_agrees_with_p1_direction(spark):
    """p1b must report convergence on the corpus graph, and because it
    shares _pagerank_round with p1, five p1b-style rounds equal p1's
    release exactly (twin-consistency by construction)."""
    from ma_anonymization_etl_spark.operators.graph import p1b_pagerank_converged

    row = p1b_pagerank_converged(spark, SF_ORACLE).collect()[0]
    assert row.converged and row.mass_conserved
    assert row.n_nodes > 0 and row.n_edges > 0


def test_j42_bpe_rules_are_well_formed(spark):
    """Merge rules: concat invariant, positive weighted support,
    _BPE_ROUNDS distinct pairs, non-increasing weighted counts per the
    greedy argmax, and no self-pairs (the documented variant)."""
    from ma_anonymization_etl_spark.operators.llm import (
        _BPE_ROUNDS,
        j42_bpe_vocab_induction,
    )

    rows = sorted(j42_bpe_vocab_induction(spark, SF_ORACLE).collect(),
                  key=lambda r: r.round)
    assert [r.round for r in rows] == list(range(1, _BPE_ROUNDS + 1))
    seen = set()
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert r.left_sym != r.right_sym
        assert r.n_weighted > 0
        seen.add((r.left_sym, r.right_sym))
    assert len(seen) == _BPE_ROUNDS


def test_j43_kmeans_partitions_corpus(spark):
    from ma_anonymization_etl_spark.operators.similarity import (
        _KM_K,
        j43_kmeans_clusters,
    )

    rows = j43_kmeans_clusters(spark, SF_ORACLE).collect()
    n_vecs = load(spark, SF_ORACLE, "embeddings").count()
    assert len(rows) <= _KM_K
    assert sum(r.n_members for r in rows) == n_vecs  # exact partition
    for r in rows:
        assert len(r.centroid.split(",")) == 64
        # mean member-to-centroid cosine must be positive (members sit
        # on the same side as their centroid) and <= 1.
        assert 0 < r.sum_qcos <= r.n_members * 1_000_000


def test_j44_semdedup_drops_planted_copies(spark):
    from ma_anonymization_etl_spark.operators.similarity import j44_semantic_dedup

    rows = j44_semantic_dedup(spark, SF_ORACLE).collect()
    n_vecs = load(spark, SF_ORACLE, "embeddings").count()
    assert sum(r.n_members for r in rows) == 2 * n_vecs  # corpus = orig + jitter
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_members
        assert r.n_kept >= 1  # the min-id member always survives
    # Each planted jittered copy (cos ~= 0.997 with its original) is
    # dropped whenever it lands in its original's cell — require >=90%
    # planted recall, and never more drops than planted copies (the
    # organic corpus has no pair above 0.6, so organics never drop).
    total_dropped = sum(r.n_dropped for r in rows)
    assert 0.9 * n_vecs <= total_dropped <= n_vecs


def test_semantic_drop_ids_runs_corpus_lineage_once(spark):
    """semantic_drop_ids derives k from a count and then clusters; both
    must read ONE materialization of the corpus, so the lineage under it
    (on a route: the aux semi-join and every step above) runs once.  An
    accumulator in a filter UDF counts the rows that lineage evaluates."""
    import random

    from pyspark.sql.types import BooleanType

    from ma_anonymization_etl_spark.operators.similarity import semantic_drop_ids

    seen = spark.sparkContext.accumulator(0)

    def count_row(_vec_id):
        seen.add(1)
        return True

    rng = random.Random(5)
    base = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        "vec_id long, v array<double>",
    )
    corpus = base.filter(F.udf(count_row, BooleanType())("vec_id"))
    semantic_drop_ids(corpus).collect()
    assert seen.value == 200


def test_n11_cdc_last_writer_wins(spark):
    from ma_anonymization_etl_spark.operators.etl import n11_cdc_apply

    out = n11_cdc_apply(spark, SF_ORACLE)
    rows = out.collect()
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys))  # one row per surviving key
    acts = {r.action for r in rows}
    # 'carry' only appears when a base key has NO ops — at the test SFs
    # every customer key occurs in orders, so require the op-driven two.
    assert {"insert", "update"} <= acts <= {"carry", "insert", "update"}
    for r in rows:
        if r.action == "carry":
            assert r.last_seq is None
        else:
            assert r.last_seq is not None
    # keys whose LAST op is a tombstone must be gone
    o = load(spark, SF_ORACLE, "orders")
    last = (
        o.withColumn(
            "k",
            F.when(F.col("o_orderkey") % 20 == 1, F.col("o_custkey") + 1000000)
            .otherwise(F.col("o_custkey")),
        )
        .groupBy("k")
        .agg(F.max_by(F.col("o_orderkey") % 20 == 0, "o_orderkey").alias("deleted"))
    )
    dead = {r.k for r in last.filter("deleted").collect()}
    assert dead and not (dead & set(keys))


def test_j45_resample_balances_langs(spark):
    from ma_anonymization_etl_spark.operators.llm import (
        _J45_ALPHA,
        j45_balance_resample,
    )

    rows = j45_balance_resample(spark, SF_ORACLE).collect()
    n_total = sum(r.n_docs for r in rows)
    target = _J45_ALPHA * n_total / len(rows)  # per-lang expected sample
    for r in rows:
        assert 0 <= r.n_sampled <= r.n_docs
        # each lang's sample lands near the uniform target (binomial
        # sd ~ sqrt(target) — allow a wide 50% band)
        assert abs(r.n_sampled - target) < 0.5 * target


def test_j46_sample_is_exactly_k_per_group(spark):
    from ma_anonymization_etl_spark.operators.llm import j46_group_sample_exact_k

    out = j46_group_sample_exact_k(spark, SF_ORACLE)
    sizes = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    d = load(spark, SF_ORACLE, "documents")
    avail = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(avail)
    for src, n in sizes.items():
        assert n == min(5, avail[src])
    # sampling is without replacement: doc_ids unique
    ids = [r.doc_id for r in out.collect()]
    assert len(ids) == len(set(ids))


def test_k24_streaming_merge_equals_batch_compaction(spark):
    from ma_anonymization_etl_spark.operators.streaming_queries import (
        k24_stream_upsert_sink,
    )

    out = {r.key: r for r in k24_stream_upsert_sink(spark, SF_ORACLE).collect()}
    e = load(spark, SF_ORACLE, "events")
    last = (
        e.groupBy("user_id")
        .agg(
            F.max("event_id").alias("last_seq"),
            F.max_by(F.round(F.col("value") * 100).cast("long"), "event_id").alias(
                "vc"
            ),
        )
        .collect()
    )
    for r in last:
        if r.last_seq % 10 == 0:  # final op is a tombstone
            assert r.user_id not in out
        else:
            got = out[r.user_id]
            assert got.last_seq == r.last_seq and got.value_cents == r.vc


def test_d15_sketch_merge_is_sound(spark):
    from ma_anonymization_etl_spark.operators.relational import d15_hll_sketch_merge

    rows = d15_hll_sketch_merge(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.merged_close_to_direct and r.est_within_5pct
        assert r.n_exact > 0


def test_p5_lpa_communities_partition_nodes(spark):
    from ma_anonymization_etl_spark.operators.graph import (
        _copurchase_pairs,
        p5_label_propagation,
    )

    out = p5_label_propagation(spark, SF_ORACLE).collect()
    pairs = _copurchase_pairs(spark, SF_ORACLE, min_support=2)
    n_nodes = (
        pairs.select(F.col("u").alias("x"))
        .unionByName(pairs.select(F.col("v").alias("x")))
        .distinct()
        .count()
    )
    assert sum(r.n_members for r in out) == n_nodes  # labels partition nodes
    assert all(r.n_members >= 1 for r in out)
    # LPA must genuinely coarsen: strictly fewer communities than nodes.
    assert len(out) < n_nodes


def test_j47_encode_conserves_symbols(spark):
    from ma_anonymization_etl_spark.operators.llm import j47_bpe_encode

    out = j47_bpe_encode(spark, SF_ORACLE)
    n_docs = load(spark, SF_ORACLE, "documents").count()
    assert out.count() == n_docs
    # each merge can only SHORTEN a word, never below 1 symbol, and with
    # 3 learned merges something must actually compress corpus-wide
    assert out.filter("n_bpe_tokens > n_char_syms OR n_bpe_tokens < 1").count() == 0
    assert out.filter("n_saved != n_char_syms - n_bpe_tokens").count() == 0
    assert out.agg(F.sum("n_saved")).first()[0] > 0


def test_c12_overlap_matches_bruteforce_semantics(spark):
    from ma_anonymization_etl_spark.operators.relational import (
        c12_interval_overlap_join,
    )

    rows = {r.promo_id: r for r in c12_interval_overlap_join(spark, SF_ORACLE).collect()}
    # brute-force recount for one mid-range promo via plain filters
    import datetime

    pid = 10
    p_start = datetime.datetime(1995, 1, 1) + datetime.timedelta(days=pid * 90)
    p_end = p_start + datetime.timedelta(days=30)
    o = load(spark, SF_ORACLE, "orders")
    n = o.filter(
        (F.col("o_orderdate") < F.lit(p_end))
        & (F.lit(p_start) < F.col("o_orderdate") + F.expr("make_dt_interval(7,0,0,0)"))
    ).count()
    assert rows[pid].n_orders == n > 0


def test_i41_pram_matrix_shape(spark):
    from ma_anonymization_etl_spark.operators.anonymize_queries import (
        i41_pram_categorical,
    )

    rows = i41_pram_categorical(spark, SF_ORACLE).collect()
    c = load(spark, SF_ORACLE, "customer")
    class_sizes = {
        r.c_mktsegment: r.n
        for r in c.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()
    }
    # row sums reproduce the original class sizes (PRAM is a bijective
    # relabeling per record, never a suppression)
    by_orig = {}
    diag = {}
    for r in rows:
        by_orig[r.orig] = by_orig.get(r.orig, 0) + r.n
        if r.orig == r.released:
            diag[r.orig] = r.n
    assert by_orig == class_sizes
    # diagonal dominance near p=0.8 — band is 3.5 binomial sigmas so the
    # test holds at every SF (a 23-row segment at sf0.001 has sd ~ 0.083)
    for seg, total in class_sizes.items():
        sd = (0.8 * 0.2 / total) ** 0.5
        assert abs(diag[seg] / total - 0.8) < max(0.1, 3.5 * sd)


def test_j48_bigram_scores_are_sane(spark):
    from ma_anonymization_etl_spark.operators.llm import j48_bigram_lm_score

    out = j48_bigram_lm_score(spark, SF_ORACLE).cache()
    try:
        n_docs = load(spark, SF_ORACLE, "documents").count()
        assert out.count() == n_docs  # every doc has >= 2 tokens here
        assert out.filter("avg_nll <= 0 OR n_bigrams < 1").count() == 0
        # keep is exactly the threshold predicate, and the median-pinned
        # threshold must actually split the corpus
        assert out.filter("keep != (avg_nll <= 3.39)").count() == 0
        kept = out.filter("keep").count()
        assert 0 < kept < n_docs
    finally:
        out.unpersist()


def test_d16_quantile_bins_bracket_exact_percentiles(spark):
    from ma_anonymization_etl_spark.operators.relational import (
        d16_histogram_quantile_merge,
    )

    import math

    rows = {r.o_orderstatus: r for r in d16_histogram_quantile_merge(spark, SF_ORACLE).collect()}
    o = load(spark, SF_ORACLE, "orders")
    for status, r in rows.items():
        vals = sorted(
            x.o_totalprice
            for x in o.filter(F.col("o_orderstatus") == status)
            .select("o_totalprice")
            .collect()
        )
        assert r.n == len(vals)
        # the histogram's crossing rule picks the bin holding the
        # ceil(q*n)-th order statistic — compare against THAT, not the
        # interpolated percentile (which can straddle a bin boundary)
        os50 = vals[math.ceil(0.5 * len(vals)) - 1]
        os95 = vals[math.ceil(0.95 * len(vals)) - 1]
        assert r.p50_bin_lo <= os50 < r.p50_bin_lo + 10000
        assert r.p95_bin_lo <= os95 < r.p95_bin_lo + 10000


def test_d16b_refined_quantiles_bracket_exact_within_released_width(spark):
    """d16b's hot-bin refinement: the released quantile bin must
    bracket the exact ceil-rank order statistic within the RELEASED
    width (10 inside hot bins — a 10x tighter error bound than the
    coarse 100), and the released width must be refined IF AND ONLY
    IF the quantile's coarse parent bin is hot (>10% of group mass)."""
    from ma_anonymization_etl_spark.operators.relational import (
        d16b_histogram_hot_bin_refine,
    )

    import math

    rows = {
        r.event_type: r
        for r in d16b_histogram_hot_bin_refine(spark, SF_ORACLE).collect()
    }
    e = load(spark, SF_ORACLE, "events")
    refined_seen = 0
    for etype, r in rows.items():
        vals = sorted(
            x.value
            for x in e.filter(F.col("event_type") == etype)
            .select("value")
            .collect()
        )
        assert r.n == len(vals)
        os50 = vals[math.ceil(0.5 * len(vals)) - 1]
        os95 = vals[math.ceil(0.95 * len(vals)) - 1]
        assert r.p50_lo <= os50 < r.p50_lo + r.p50_width
        assert r.p95_lo <= os95 < r.p95_lo + r.p95_width
        for lo, width in ((r.p50_lo, r.p50_width), (r.p95_lo, r.p95_width)):
            assert width in (10, 100)
            coarse_lo = (lo // 100) * 100
            in_bin = sum(1 for v in vals if coarse_lo <= v < coarse_lo + 100)
            is_hot = in_bin * 10 > len(vals)
            assert (width == 10) == is_hot, (
                f"{etype}: released width {width} at lo={lo} but coarse bin "
                f"holds {in_bin}/{len(vals)} rows (hot={is_hot})"
            )
            refined_seen += width == 10
    # events.value is exponential-shaped (~86% of mass in the bottom
    # width-100 bin) — the released quantiles must actually exercise
    # the fine level
    assert refined_seen > 0


def test_n12_backfill_touches_only_target_partition(spark):
    from ma_anonymization_etl_spark.operators.etl import (
        n12_partition_overwrite_backfill,
    )

    rows = {r.o_year: r for r in n12_partition_overwrite_backfill(spark, SF_ORACLE).collect()}
    o = load(spark, SF_ORACLE, "orders").withColumn("y", F.year("o_orderdate"))
    base = {
        r.y: (r.n, r.s)
        for r in o.groupBy("y")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        )
        .collect()
    }
    for y, (n, s) in base.items():
        assert rows[y].n == n
        if y == 1997:
            assert rows[y].sum_cents > s  # corrected partition moved
        else:
            assert rows[y].sum_cents == s  # untouched partitions identical


def test_q7_flags_injected_spike(spark):
    """The integer 3-sigma rule must fire on a genuine spike: rerun the
    same window math over the daily series with one day's count
    multiplied 10x and assert that day flags."""
    from ma_anonymization_etl_spark.operators.quality import volume_anomaly_flags

    daily = (
        load(spark, SF_ORACLE, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spiked = daily.withColumn(
        "n",
        F.when(F.col("day") == F.lit("2024-01-20 00:00:00").cast("timestamp"), F.col("n") * 10)
        .otherwise(F.col("n")),
    )
    # the OPERATOR's own rule (q7 calls this same helper) must flag it
    flagged = volume_anomaly_flags(spiked).filter("is_anomaly").select("day").collect()
    assert any(str(r.day).startswith("2024-01-20") for r in flagged)
    # and on the REAL series the op itself reports mostly-calm traffic
    from ma_anonymization_etl_spark.operators.quality import q7_volume_anomaly

    real = q7_volume_anomaly(spark, SF_ORACLE)
    assert real.count() == 30
    assert real.filter("is_anomaly").count() <= 3


def test_p6_distances_triangle_inequality_vs_hops(spark):
    from ma_anonymization_etl_spark.operators.graph import p6_sssp_bounded

    rows = {r.node: r.dist for r in p6_sssp_bounded(spark, SF_ORACLE).collect()}
    src = min(rows)
    assert rows[src] == 0
    others = {n: d for n, d in rows.items() if n != src}
    assert others and all(d > 0 for d in others.values())
    # max weight per edge is 1000//2 = 500, 3 relaxation rounds -> <= 1500
    assert max(rows.values()) <= 1500


def test_k25_stream_histogram_equals_batch_d16_algebra(spark):
    from ma_anonymization_etl_spark.operators.streaming_queries import (
        k25_stream_histogram_maintenance,
    )

    import math

    rows = {r.event_type: r for r in k25_stream_histogram_maintenance(spark, SF_ORACLE).collect()}
    e = load(spark, SF_ORACLE, "events")
    for et, r in rows.items():
        vals = sorted(
            x.value
            for x in e.filter(F.col("event_type") == et).select("value").collect()
        )
        assert r.n == len(vals)
        os50 = vals[math.ceil(0.5 * len(vals)) - 1]
        os95 = vals[math.ceil(0.95 * len(vals)) - 1]
        assert r.p50_bin_lo <= os50 < r.p50_bin_lo + 25
        assert r.p95_bin_lo <= os95 < r.p95_bin_lo + 25


def test_i42_releases_exactly_the_closest_half(spark):
    from ma_anonymization_etl_spark.operators.anonymize_queries import (
        i20_t_closeness,
        i42_t_closeness_enforce,
    )

    t = {r.c_nationkey: r.t_closeness for r in i20_t_closeness(spark, SF_ORACLE).collect()}
    released = i42_t_closeness_enforce(spark, SF_ORACLE)
    rel_classes = {r.c_nationkey for r in released.select("c_nationkey").distinct().collect()}
    assert len(rel_classes) == len(t) // 2
    # every released class has t <= every suppressed class's t
    worst_released = max(t[k] for k in rel_classes)
    best_suppressed = min(t[k] for k in set(t) - rel_classes)
    assert worst_released <= best_suppressed
    # row-complete release for surviving classes
    c = load(spark, SF_ORACLE, "customer")
    expected = c.filter(F.col("c_nationkey").isin(list(rel_classes))).count()
    assert released.count() == expected


def test_j49_quota_caps_every_host(spark):
    from ma_anonymization_etl_spark.operators.llm import j49_domain_quota

    rows = j49_domain_quota(spark, SF_ORACLE).collect()
    d = load(spark, SF_ORACLE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert r.n_kept == min(10, r.n_docs)
        assert r.n_kept + r.n_capped == r.n_docs


def test_a11_corrupt_rows_flagged_not_dropped(spark):
    from ma_anonymization_etl_spark.operators.sources_queries import (
        a11_csv_malformed_handling,
    )

    r = a11_csv_malformed_handling(spark, SF_ORACLE).first()
    d = load(spark, SF_ORACLE, "documents")
    n = d.count()
    n_bad = d.filter("doc_id % 13 = 0").count()
    assert r.n_total == n  # PERMISSIVE keeps every record
    assert r.n_corrupt == n_bad > 0
    assert r.n_good == n - n_bad
    good_sum = d.filter("doc_id % 13 != 0").agg(F.sum("n_chars")).first()[0]
    assert r.sum_chars_good == good_sum


def test_e11_carries_most_recent_reading(spark):
    from ma_anonymization_etl_spark.operators.windows import e11_win_ignore_nulls

    out = e11_win_ignore_nulls(spark, SF_ORACLE)
    e = load(spark, SF_ORACLE, "events")
    assert out.count() == e.count()
    # rows that ARE readings carry their own value forward
    joined = out.join(e, ["user_id", "event_id"])
    readings = joined.filter("event_id % 5 = 0")
    assert readings.filter(
        F.col("carried_cents") != F.floor(F.col("value") * 100).cast("long")
    ).count() == 0
    # sentinel only before a user's first reading; never both sentinels
    # unless the user has no readings at all
    sentinel_rows = out.filter("carried_cents = -100 AND next_cents = -100")
    users_without = {
        r.user_id
        for r in e.groupBy("user_id")
        .agg(F.sum((F.col("event_id") % 5 == 0).cast("int")).alias("k"))
        .filter("k = 0")
        .collect()
    }
    for r in sentinel_rows.select("user_id").distinct().collect():
        assert r.user_id in users_without


def test_d17_extremes_are_unique_and_match_window_rank(spark):
    from pyspark.sql import Window

    from ma_anonymization_etl_spark.operators.relational import d17_agg_argminmax

    rows = {r.o_orderpriority: r for r in d17_agg_argminmax(spark, SF_ORACLE).collect()}
    o = load(spark, SF_ORACLE, "orders")
    # tie-safety precondition: the extreme price is held by exactly one
    # row per group (max_by/arg_max ties would be engine-arbitrary)
    ext = o.groupBy("o_orderpriority").agg(
        F.max("o_totalprice").alias("mx"), F.min("o_totalprice").alias("mn")
    )
    dup = (
        o.join(ext, "o_orderpriority")
        .filter((F.col("o_totalprice") == F.col("mx")) | (F.col("o_totalprice") == F.col("mn")))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c != 2")
    )
    assert dup.count() == 0
    # cross-check the released keys against the window-rank detour
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    top = {
        r.o_orderpriority: r.o_orderkey
        for r in o.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    for pr, r in rows.items():
        assert r.top_orderkey == top[pr]


def test_d18_bitmap_count_is_exact(spark):
    from ma_anonymization_etl_spark.operators.relational import d18_bitmap_distinct

    rows = d18_bitmap_distinct(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        # the whole point: bitmap-merged count EQUALS the exact recount
        assert r.n_exact_bitmap == r.n_recount > 0


def test_j43b_converges_to_monotone_fixpoint(spark):
    """The converge mode of the Lloyd loop must (a) actually converge
    with all k clusters surviving and non-empty, (b) follow the path an
    independent replay from the two primitives (``_km_assign_arrow`` /
    the fused round ``_km_round_arrow``) takes — same round count, same
    final assignment — along which the spherical objective
    sum_i cos(v_i, c_a(i)) never decreases (both Lloyd half-steps
    maximize it; tolerance covers the 1e-6 centroid quantization), and
    (c) stop at a FIXPOINT: one more recompute and assign round changes
    no label.  Two corpora: the smoke embeddings
    (contiguous ids from 0) and 60 random 8-dim vectors with ids
    1000-1059, where a `vec_id < k` seed filter finds no seed at all."""
    import math
    import random

    from ma_anonymization_etl_spark.functions.vectors import as_double, norm
    from ma_anonymization_etl_spark.operators.similarity import (
        _KM_K,
        _KMB_EPS_MICRO,
        _KMB_MAX_ROUNDS,
        _km_assign_arrow,
        _km_collect_centroids,
        _km_fit_arrow,
        _km_round_arrow,
    )

    def cos(x, y):
        d = sum(a * b for a, b in zip(x, y))
        return d / (math.sqrt(sum(a * a for a in x)) * math.sqrt(sum(b * b for b in y)))

    def quantized(rows):
        return {r.cl: [round(x * 1e6) for x in r.cent] for r in rows}

    def replay(corpus):
        cents = (
            corpus.orderBy("vec_id").limit(_KM_K)
            .selectExpr("vec_id AS cl", "v AS cent").collect()
        )
        trace = []
        for rounds in range(1, _KMB_MAX_ROUNDS + 1):
            assign = _km_assign_arrow(corpus, cents)
            by_cl = {r.cl: r.cent for r in cents}
            trace.append(sum(cos(r.v, by_cl[r.cl]) for r in assign.collect()))
            new = _km_collect_centroids(_km_round_arrow(corpus, cents))
            old_q, new_q = quantized(cents), quantized(new)
            move = max(
                (
                    sum(abs(a - b) for a, b in zip(new_q[cl], old_q[cl]))
                    for cl in new_q
                    if cl in old_q
                ),
                default=0,
            )
            cents = new
            if set(new_q) == set(old_q) and move <= _KMB_EPS_MICRO:
                break
        final = {r.vec_id: r.cl for r in _km_assign_arrow(corpus, cents).collect()}
        return rounds, final, trace

    rng = random.Random(3)
    offset_ids = spark.createDataFrame(
        [(1000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, v array<double>",
    )
    smoke = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    for raw in (smoke, offset_ids):
        corpus = raw.withColumn(
            "v", F.transform("v", lambda x: x / norm(F.col("v")))
        ).localCheckpoint(eager=True)
        assign, cents, converged, rounds, saw_loss = _km_fit_arrow(
            corpus, converge=True
        )
        got = {r.vec_id: r.cl for r in assign.collect()}
        assert converged and not saw_loss
        assert len(cents) == _KM_K
        assert len(got) == raw.count()
        assert set(got.values()) == {r.cl for r in cents}  # k non-empty
        want_rounds, want, trace = replay(corpus)
        assert rounds == want_rounds == len(trace) and got == want
        for a, b in zip(trace, trace[1:]):
            assert b >= a - 1e-3, f"objective decreased: {trace}"
        # fixpoint: one more recompute+assign round leaves every cl unchanged
        again = _km_assign_arrow(
            corpus, _km_collect_centroids(_km_round_arrow(corpus, cents))
        )
        assert {r.vec_id: r.cl for r in again.collect()} == got


def test_q8_ewma_flags_injected_spike_and_matches_float_rule(spark):
    """q8's integer EWMA rule must (a) fire on a genuine 10x spike, (b)
    agree day-by-day with a driver-side float replay of the same
    weights (the integer form is an exact rewrite, not an
    approximation), and (c) stay mostly calm on the real series."""
    from ma_anonymization_etl_spark.operators.quality import (
        ewma_anomaly_flags,
        q8_ewma_anomaly,
    )

    daily = (
        load(spark, SF_ORACLE, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spiked = daily.withColumn(
        "n",
        F.when(
            F.col("day") == F.lit("2024-01-20 00:00:00").cast("timestamp"),
            F.col("n") * 10,
        ).otherwise(F.col("n")),
    )
    flagged = ewma_anomaly_flags(spiked).filter("is_anomaly").select("day").collect()
    assert any(str(r.day).startswith("2024-01-20") for r in flagged)

    # float replay: |n - S/D| > 0.5 * S/D day by day
    rows = sorted(
        (str(r.day), r.n, r.k_window, r.ewma_num, r.ewma_den, r.is_anomaly)
        for r in ewma_anomaly_flags(spiked).collect()
    )
    series = {day: n for day, n, *_ in rows}
    days = sorted(series)
    for idx, (day, n, k, s_int, d_int, flag) in enumerate(rows):
        prev = days[max(0, idx - 7):idx][::-1]  # t-1 first
        s = sum(series[p] * (0.5 ** (i)) for i, p in enumerate(prev))
        d = sum(0.5 ** i for i in range(len(prev)))
        assert k == len(prev)
        expect = len(prev) >= 2 and abs(n - s / d) > 0.5 * (s / d)
        assert flag == expect, (day, n, s / d if d else None)

    real = q8_ewma_anomaly(spark, SF_ORACLE)
    assert real.count() == 30
    assert real.filter("is_anomaly").count() <= 3


def test_anomaly_baselines_are_calendar_keyed_on_gappy_series(spark):
    """Round-7 advice: on a series WITH missing calendar days, the
    'trailing 7 days' / 'same weekday over trailing 4 weeks' baselines
    must skip the gaps (date-keyed), not slide down to the N-th
    previous OBSERVED row.  A synthetic series with a hole proves it:
    the day after a 3-day gap must see only the baseline days that
    calendar-exist, with the correct per-offset weights."""
    import datetime as _dt

    from ma_anonymization_etl_spark.operators.quality import (
        ewma_anomaly_flags,
        seasonal_anomaly_flags,
    )

    d0 = _dt.datetime(2024, 3, 1)
    # days 0..9 except 4,5,6 missing; constant n=100 except day 9
    present = [0, 1, 2, 3, 7, 8, 9]
    rows = [(d0 + _dt.timedelta(days=i), 100 if i != 9 else 1000) for i in present]
    daily = spark.createDataFrame(rows, "day TIMESTAMP, n LONG")

    ew = {str(r.day): r for r in ewma_anomaly_flags(daily).collect()}
    d8 = ew[str(d0 + _dt.timedelta(days=8))]
    # calendar lags 1..7 from day 8 → days 7,6,5,4,3,2,1 → present: 7,3,2,1
    assert d8.k_window == 4
    wts = {i: 1 ** (i - 1) * 2 ** (7 - i) for i in range(1, 8)}
    want_den = wts[1] + wts[5] + wts[6] + wts[7]
    assert d8.ewma_den == want_den
    assert d8.ewma_num == 100 * want_den
    assert not d8.is_anomaly
    d9 = ew[str(d0 + _dt.timedelta(days=9))]
    assert d9.is_anomaly  # 10x spike vs an all-100 baseline

    sea = {
        str(r.day): r
        for r in seasonal_anomaly_flags(daily, period=7, n_periods=4).collect()
    }
    # day 8 ← days 1 (present), -6, -13, -20 → exactly one baseline day
    d8s = sea[str(d0 + _dt.timedelta(days=8))]
    assert d8s.k_window == 1 and d8s.season_sum == 100
    assert not d8s.is_anomaly  # k < 2 → never flags
    # day 4/5/6 are absent from the output entirely (no fabricated rows)
    assert str(d0 + _dt.timedelta(days=4)) not in sea


def test_j50_prefix_filter_equals_exhaustive_referee(spark):
    """The prefix-filter claim IS exactness: the released pair set must
    equal the exhaustive inverted-index pair set (every pair sharing any
    shingle, exact Jaccard >= tau) computed WITHOUT the filter — and the
    planted perturbed twin of every doc must be found."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J50_TAU,
        set_similarity_join,
        word_shingles,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    corpus = d.unionByName(pert)
    toks = corpus.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("tok")
    ).distinct()

    got = {
        (r.a_id, r.b_id, r.jaccard)
        for r in set_similarity_join(toks, _J50_TAU).collect()
    }

    # exhaustive referee: inverted-index candidates (zero false
    # negatives for jaccard > 0), exact verify — no prefix filter.
    sz = toks.groupBy("doc_id").count()
    ta, tb = toks.alias("ta"), toks.alias("tb")
    inter = (
        ta.join(
            tb,
            (F.col("ta.tok") == F.col("tb.tok"))
            & (F.col("ta.doc_id") < F.col("tb.doc_id")),
        )
        .groupBy(
            F.col("ta.doc_id").alias("a_id"), F.col("tb.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .join(sz.select(F.col("doc_id").alias("a_id"), F.col("count").alias("sa")), "a_id")
        .join(sz.select(F.col("doc_id").alias("b_id"), F.col("count").alias("sb")), "b_id")
    )
    jac = F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))
    want = {
        (r.a_id, r.b_id, r.jaccard)
        for r in inter.filter(jac >= _J50_TAU)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
        .collect()
    }
    assert got == want
    assert len(got) > 0
    n_docs = d.count()
    planted = {(r.doc_id, r.doc_id + 100000) for r in d.select("doc_id").collect()}
    assert len(planted & {(a, b) for a, b, _ in got}) >= int(0.9 * n_docs)


def test_j50_positional_filter_shrinks_candidates_same_pairs(spark):
    """PPJoin's positional filter is a pure candidate-volume knob: on
    the planted corpus it must produce STRICTLY fewer stage-3
    candidates than the plain prefix join, and the released pair set
    must be identical (exactness is untouchable)."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J50_TAU,
        _ssj_candidates,
        set_similarity_join,
        word_shingles,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    corpus = d.unionByName(pert)
    toks = corpus.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("tok")
    )
    _, cand_pos = _ssj_candidates(toks, _J50_TAU, positional=True)
    _, cand_plain = _ssj_candidates(toks, _J50_TAU, positional=False)
    n_pos, n_plain = cand_pos.count(), cand_plain.count()
    assert n_pos < n_plain, (n_pos, n_plain)
    # The filter only ever REMOVES candidates (subset, never new ones).
    assert cand_pos.subtract(cand_plain).limit(1).count() == 0
    got_pos = {
        (r.a_id, r.b_id, r.jaccard)
        for r in set_similarity_join(toks, _J50_TAU, positional=True).collect()
    }
    got_plain = {
        (r.a_id, r.b_id, r.jaccard)
        for r in set_similarity_join(toks, _J50_TAU, positional=False).collect()
    }
    assert got_pos == got_plain and got_pos


def test_j50_hashed_verify_equals_string_verify(spark):
    """Round 13: the exact-verify arrays ship xxhash64 tokens instead
    of strings (guide §2.3; collision bound written at
    ``_hashed_token_arrays``).  Pin the released (a_id, b_id, jaccard)
    sets bit-identical to a string-array reference verify over the
    same candidates, for BOTH the jaccard and the containment engines,
    on the planted smoke corpus."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J50_TAU,
        _containment_candidates,
        _ordered_tokens,
        _ssj_candidates,
        containment_join,
        set_similarity_join,
        word_shingles,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    toks = (
        d.unionByName(pert)
        .select("doc_id", F.explode(word_shingles("text", 3)).alias("tok"))
        .distinct()
    )
    # reference: string-array verify over the same candidate stage
    toks_n, per_doc = _ordered_tokens(toks, "doc_id", "tok", True)
    arrs = toks_n.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("tok")).alias("ts")
    )

    def ref_release(cand, jaccard):
        inter = (
            cand.join(
                arrs.select(F.col("doc_id").alias("a_id"), F.col("ts").alias("a_ts")),
                "a_id",
            )
            .join(
                arrs.select(F.col("doc_id").alias("b_id"), F.col("ts").alias("b_ts")),
                "b_id",
            )
            .withColumn("i", F.size(F.array_intersect("a_ts", "b_ts")))
        )
        if jaccard:
            val = F.col("i") / (F.col("a_sz") + F.col("b_sz") - F.col("i"))
            tau = _J50_TAU
        else:
            val = F.col("i") / F.col("a_sz")
            tau = 0.9
        return {
            (r[0], r[1], r[2])
            for r in inter.filter(val >= tau)
            .select("a_id", "b_id", F.round(val, 6))
            .collect()
        }

    _, cand_j = _ssj_candidates(toks, _J50_TAU, per_doc=per_doc)
    got_j = {
        tuple(r) for r in set_similarity_join(toks, _J50_TAU).collect()
    }
    assert got_j == ref_release(cand_j, jaccard=True) and got_j

    _, cand_c = _containment_candidates(toks, 0.9, per_doc=per_doc)
    got_c = {tuple(r) for r in containment_join(toks, 0.9).collect()}
    assert got_c == ref_release(cand_c, jaccard=False) and got_c


def test_f6_skyline_dominance_is_exact(spark):
    """Nothing returned is dominated; everything not returned is
    dominated by something returned (checked exhaustively driver-side
    at smoke SF); an injected super-point collapses the skyline."""
    from ma_anonymization_etl_spark.operators.relational import skyline_2d

    o = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    pts = [(r.o_orderkey, r.o_orderdate, r.o_totalprice) for r in o.collect()]
    sky = {
        r.o_orderkey
        for r in skyline_2d(o, "o_orderdate", "o_totalprice").collect()
    }

    def dominated(p, q):  # q dominates p
        return (
            q[1] >= p[1]
            and q[2] >= p[2]
            and (q[1] > p[1] or q[2] > p[2])
        )

    for p in pts:
        dom = any(dominated(p, q) for q in pts if q[0] != p[0])
        assert (p[0] in sky) == (not dom), p

    top = max(p[1] for p in pts), max(p[2] for p in pts)
    boosted = o.unionByName(
        spark.createDataFrame(
            [(999999999, top[0], top[1] + 1.0)], o.schema
        )
    )
    sky2 = skyline_2d(boosted, "o_orderdate", "o_totalprice").collect()
    assert [r.o_orderkey for r in sky2] == [999999999]


def test_j51_replays_exactly_and_respects_weights(spark):
    """Driver-side md5 replay of the Efraimidis-Spirakis keys must give
    the identical 100-doc sample and ranks; and the size bias must be
    visible: the sampled mean n_chars exceeds the corpus mean."""
    import hashlib
    import math

    from ma_anonymization_etl_spark.operators.llm import j51_weighted_sample

    rows = load(spark, SF_ORACLE, "documents").select("doc_id", "n_chars").collect()

    def key(doc_id, w):
        u = int(hashlib.md5(f"j51|{doc_id}".encode()).hexdigest()[:15], 16) / float(
            1 << 60
        )
        return math.log(max(u, 1e-18)) / w

    want = sorted(rows, key=lambda r: (-key(r.doc_id, r.n_chars), r.doc_id))[:100]
    got = j51_weighted_sample(spark, SF_ORACLE).orderBy("draw_rank").collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    assert [r.draw_rank for r in got] == list(range(1, 101))
    corpus_mean = sum(r.n_chars for r in rows) / len(rows)
    sample_mean = sum(r.n_chars for r in got) / len(got)
    assert sample_mean > corpus_mean


def test_q9_mad_flags_injected_spike_and_matches_replay(spark):
    """The Hampel rule must fire on an injected far-out balance and the
    released med/mad must equal a driver-side float replay (exact
    interpolating percentiles, rounded the same way)."""

    from ma_anonymization_etl_spark.operators.quality import mad_outlier_report

    c = load(spark, SF_ORACLE, "customer").select("c_mktsegment", "c_acctbal")
    base = {
        r.c_mktsegment: r
        for r in mad_outlier_report(c, "c_mktsegment", "c_acctbal").collect()
    }
    assert len(base) == 5
    for seg, r in base.items():
        vals = [
            x.c_acctbal for x in c.filter(F.col("c_mktsegment") == seg).collect()
        ]
        med = round(_pctl(vals, 0.5), 4)
        assert r.med == med, seg
        mad = round(_pctl([abs(v - med) for v in vals], 0.5), 4)
        assert r.mad == mad, seg
        assert r.n_rows == len(vals)

    spiked = c.unionByName(
        spark.createDataFrame([("BUILDING", 1e9)], c.schema)
    )
    rep = {
        r.c_mktsegment: r
        for r in mad_outlier_report(spiked, "c_mktsegment", "c_acctbal").collect()
    }
    assert rep["BUILDING"].n_outliers >= base["BUILDING"].n_outliers + 1


def _pctl(vals, p):
    """Spark/DuckDB interpolating percentile (quantile_cont)."""
    s = sorted(vals)
    idx = (len(s) - 1) * p
    lo, hi = int(idx), min(int(idx) + 1, len(s) - 1)
    frac = idx - lo
    return s[lo] * (1 - frac) + s[hi] * frac


def test_i43_dp_topk_replay_and_privacy_shape(spark):
    """The DP top-5 must match a driver-side md5+inverse-CDF replay of
    the noisy selection, never release an exact count column, and the
    noise must be bounded by the documented clamp (~27.6·b)."""
    import hashlib
    import math

    from ma_anonymization_etl_spark.operators.dp import i43_dp_topk

    li = load(spark, SF_ORACLE, "lineitem").select("l_partkey")
    p = load(spark, SF_ORACLE, "part").select("p_partkey", "p_brand")
    exact = {
        r.p_brand: r.n
        for r in li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def noisy(brand, n, b=5.0):
        u = int(
            hashlib.md5(f"dp43|{brand}".encode()).hexdigest()[:15], 16
        ) / float(1 << 60)
        w = max(-0.5 + 1e-12, min(0.5 - 1e-12, u - 0.5))
        return round(n + (-b * math.copysign(1, w) * math.log(1 - 2 * abs(w))), 6)

    want = sorted(
        ((noisy(br, n), br) for br, n in exact.items()),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = i43_dp_topk(spark, SF_ORACLE).orderBy("rank").collect()
    assert [(r.n_noisy, r.p_brand) for r in got] == want
    assert [r.rank for r in got] == [1, 2, 3, 4, 5]
    assert "n_exact" not in got[0].asDict() and "_n" not in got[0].asDict()
    for r in got:
        assert abs(r.n_noisy - exact[r.p_brand]) <= 27.7 * 5.0


def test_d19_bins_are_equal_frequency_and_ordered(spark):
    """Decile binning: 10 bins, counts near n/10, bins partition the
    value range in order (bin_max[i] <= bin_min[i+1]), total preserved."""
    from ma_anonymization_etl_spark.operators.relational import (
        d19_quantile_binning,
        quantile_binning,
    )

    rows = sorted(
        d19_quantile_binning(spark, SF_ORACLE).collect(), key=lambda r: r.bin
    )
    n = load(spark, SF_ORACLE, "lineitem").count()
    assert [r.bin for r in rows] == list(range(1, 11))
    assert sum(r.n_rows for r in rows) == n
    for r in rows:
        assert abs(r.n_rows - n / 10) <= max(5, 0.01 * n)
    for a, b in zip(rows, rows[1:]):
        assert a.bin_max <= b.bin_min
        assert a.bin_min <= a.bin_max

    # parameterized engine honors nbins
    li = load(spark, SF_SMOKE, "lineitem").select("l_quantity")
    assert quantile_binning(li, "l_quantity", 4).count() <= 4


def test_j52_containment_equals_exhaustive_and_finds_planted(spark):
    """Prefix-filter exactness for the DIRECTED containment join: the
    result equals the exhaustive referee; every planted pert->orig pair
    appears at containment exactly 1.0."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J52_C,
        containment_join,
        word_shingles,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    toks = (
        d.unionByName(pert)
        .select("doc_id", F.explode(word_shingles("text", 3)).alias("tok"))
        .distinct()
    )
    got = {
        (r.a_id, r.b_id): r.containment
        for r in containment_join(toks, _J52_C).collect()
    }

    sz = toks.groupBy("doc_id").count()
    ta, tb = toks.alias("ta"), toks.alias("tb")
    ref = (
        ta.join(
            tb,
            (F.col("ta.tok") == F.col("tb.tok"))
            & (F.col("ta.doc_id") != F.col("tb.doc_id")),
        )
        .groupBy(
            F.col("ta.doc_id").alias("a_id"), F.col("tb.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .join(sz.select(F.col("doc_id").alias("a_id"), F.col("count").alias("sa")), "a_id")
    )
    cont = F.col("i") / F.col("sa")
    want = {
        (r.a_id, r.b_id): r.containment
        for r in ref.filter(cont >= _J52_C)
        .select("a_id", "b_id", F.round(cont, 6).alias("containment"))
        .collect()
    }
    assert got == want
    for r in d.select("doc_id").collect():
        assert got.get((r.doc_id + 100000, r.doc_id)) == 1.0


def test_p7_components_match_union_find_referee(spark):
    """The released component sizes must equal a driver-side union-find
    over the same edge list, and the full labeling must be a fixpoint:
    one more min-propagation round changes nothing."""
    from ma_anonymization_etl_spark.operators.graph import _copurchase_pairs
    from ma_anonymization_etl_spark.operators.llm import connected_components

    pairs = _copurchase_pairs(spark, SF_ORACLE, min_support=2).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    edges = [(r.a, r.b) for r in pairs.collect()]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want: dict = {}
    for n in list(parent):
        want.setdefault(find(n), set()).add(n)
    # canonical id = min member
    want_sizes = sorted(
        (min(m), len(m)) for m in want.values()
    )

    comp = connected_components(pairs)
    got = {(r.node, r.component) for r in comp.collect()}
    got_groups: dict = {}
    for node, c in got:
        got_groups.setdefault(c, set()).add(node)
    got_sizes = sorted((c, len(m)) for c, m in got_groups.items())
    assert got_sizes == want_sizes
    for c, members in got_groups.items():
        assert c == min(members)  # component id IS the min member

    # fixpoint: neighbours never carry a smaller label
    lbl = comp.select(F.col("node").alias("n"), F.col("component").alias("c"))
    sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    viol = (
        sym.join(lbl.withColumnRenamed("n", "a"), "a")
        .withColumnRenamed("c", "ca")
        .join(
            lbl.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"), "b"
        )
        .filter(F.col("cb") < F.col("ca"))
        .count()
    )
    assert viol == 0


def test_j53_planted_decisions_both_ways(spark):
    """Every planted near-dup (perturbed copy) must be dropped —
    overwhelmingly matched to its own source — and every truncated
    first-third 'new' doc must be kept (exact verification overrides
    band collisions); the release covers the whole batch exactly once."""
    from ma_anonymization_etl_spark.operators.llm import j53_incremental_dedup

    rows = {r.batch_id: r for r in j53_incremental_dedup(spark, SF_ORACLE).collect()}
    docs = [r.doc_id for r in load(spark, SF_ORACLE, "documents").select("doc_id").collect()]
    n_new = sum(1 for d in docs if d % 10 == 0)
    assert len(rows) == len(docs) + n_new

    perturbed = [rows[d + 100000] for d in docs]
    assert all(r.is_dup for r in perturbed)
    own_source = sum(1 for d in docs if rows[d + 100000].match_id == d)
    assert own_source >= int(0.95 * len(docs))
    for r in perturbed:
        assert r.jaccard is not None and r.jaccard >= 0.5

    for d in docs:
        if d % 10 == 0:
            r = rows[d + 200000]
            assert not r.is_dup and r.match_id is None and r.jaccard is None


def test_round7_ops_edge_cases(spark):
    """Degenerate-input hardening for the round-7 library functions:
    single-point skyline, constant-column binning, tau=1.0 similarity
    (exact-duplicate sets only), weighted sample with k > n."""
    from ma_anonymization_etl_spark.operators.llm import (
        set_similarity_join,
        weighted_sample_topk,
    )
    from ma_anonymization_etl_spark.operators.relational import (
        quantile_binning,
        skyline_2d,
    )

    one = spark.createDataFrame([(1, 5, 7.0)], "id long, x int, y double")
    assert [tuple(r) for r in skyline_2d(one, "x", "y").collect()] == [(1, 5, 7.0)]

    const = spark.createDataFrame([(v,) for v in [3.0] * 40], "x double")
    bins = quantile_binning(const, "x", 4).collect()
    assert len(bins) == 1 and bins[0].bin == 1 and bins[0].n_rows == 40

    toks = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")],
        "doc_id long, tok string",
    )
    # tau=1.0: only identical sets pair; doc 3 ({a}) is a strict subset,
    # NOT an exact dup.
    pairs = set_similarity_join(toks, 1.0).collect()
    assert [(r.a_id, r.b_id, r.jaccard) for r in pairs] == [(1, 2, 1.0)]

    few = spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, w int")
    got = weighted_sample_topk(few, "w", 5, "edge|", id_col="doc_id").collect()
    assert len(got) == 2 and sorted(r.draw_rank for r in got) == [1, 2]

    # w <= 0 is an A-ES contract violation: the job must FAIL, never
    # silently hand back a sample where negative weights win every draw
    # (round-7 advice).
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    bad = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5)], "doc_id long, w int"
    )
    with _pytest.raises((Py4JJavaError, Exception), match="non-positive weight"):
        weighted_sample_topk(bad, "w", 3, "edge|", id_col="doc_id").collect()


def test_q10_seasonal_rule_ignores_weekly_cycle_but_catches_spikes(spark):
    """The docstring's claim, proven: a strongly weekly-cyclic series
    (weekend dips to 25%) trips q7's mixed-weekday rule but NEVER q10's
    same-weekday rule; a genuine one-day 10x spike trips q10."""
    import datetime

    from ma_anonymization_etl_spark.operators.quality import (
        seasonal_anomaly_flags,
        volume_anomaly_flags,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(42):
        day = base + datetime.timedelta(days=i)
        n = 250 if day.weekday() >= 5 else 1000
        rows.append((day, n))
    cyc = spark.createDataFrame(rows, "day timestamp, n long")
    assert seasonal_anomaly_flags(cyc).filter("is_anomaly").count() == 0
    assert volume_anomaly_flags(cyc).filter("is_anomaly").count() > 0

    spiked = cyc.withColumn(
        "n",
        F.when(
            F.col("day") == F.lit("2024-02-07 00:00:00").cast("timestamp"),
            F.col("n") * 10,
        ).otherwise(F.col("n")),
    )
    flagged = [
        str(r.day)
        for r in seasonal_anomaly_flags(spiked).filter("is_anomaly").collect()
    ]
    assert any(d.startswith("2024-02-07") for d in flagged)
    # the spike also poisons exactly the following same-weekday
    # baselines, never a different weekday
    assert all(
        datetime.datetime.fromisoformat(d).weekday()
        == datetime.datetime(2024, 2, 7).weekday()
        for d in flagged
    )


def test_lsh_band_plan_scale_rule():
    """The N-dependent banding rule (round-8, from the round-7 sf10
    abort): occupancy-constant bits, recall-budget-preserving bands."""
    import math

    from ma_anonymization_etl_spark.operators.similarity import (
        _J9B_MISS,
        _J9B_OCC,
        _J9B_RECALL_COS,
        lsh_band_plan,
    )

    # Gate SFs land exactly on the historical demo constants (the
    # 12-bit floor binds, so these are occupancy-insensitive).
    assert lsh_band_plan(1000) == (16, 12)
    assert lsh_band_plan(4000) == (16, 12)
    # The previously-aborted scales derive honest plans (occ 1.0).
    assert lsh_band_plan(40_000) == (19, 16)
    assert lsh_band_plan(400_000) == (22, 19)
    p = 1.0 - math.acos(_J9B_RECALL_COS) / math.pi
    prev_bits = 0
    for exp in range(2, 28):
        n = 2**exp
        bands, bits = lsh_band_plan(n)
        # bits monotone in N, occupancy within [occ/2, occ] inside clamps
        assert bits >= prev_bits
        prev_bits = bits
        if 12 < bits < 24:
            assert 2 ** (bits - 1) < n / _J9B_OCC <= 2**bits
        # the per-pair miss budget holds at every derived plan
        # (within clamp range for bands)
        if bands < 64:
            assert (1.0 - p**bits) ** bands <= _J9B_MISS * 1.0001
    # candidate-volume linearity: random-pair collision mass
    # bands * N^2 / 2^bits grows ~linearly in N inside the clamp range
    for n in (100_000, 1_000_000):
        bands, bits = lsh_band_plan(n)
        bands10, bits10 = lsh_band_plan(10 * n)
        vol = bands * n * n / 2**bits
        vol10 = bands10 * (10 * n) ** 2 / 2**bits10
        assert vol10 / vol < 25  # ~linear-with-granularity, never ~100x


def test_p8_kcore_invariants_and_hand_graph(spark):
    """kcore contract: (a) on a hand-built graph the k-core is exactly
    the densely-connected part after CASCADE removal (the tail pulls
    its neighbor under k only after the first peel — one round is not
    enough, which is the point of iterating); (b) every released node
    has deg_in_core >= k; (c) the corpus fixpoint lands well inside
    the oracle's 8-stage unroll at all shipped SFs."""
    from ma_anonymization_etl_spark.operators.graph import kcore, p8_kcore

    # 4-clique {1,2,3,4} + chain 4-5-6: peeling k=2 drops 6 (deg 1),
    # then 5 (deg 1 after the cascade) — the 2-core is the clique.
    g = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "a LONG, b LONG",
    )
    st = {}
    rows = {r.node: r.deg_in_core for r in kcore(g, 2, stats=st).collect()}
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}
    assert st["rounds"] >= 2  # the cascade took more than one peel
    # k=4: no node has degree 4 -> empty core
    assert kcore(g, 4).count() == 0

    from ma_anonymization_etl_spark.operators.graph import (
        _P8_K,
        _P8_ORACLE_ROUNDS,
        _copurchase_pairs,
    )

    for sf in (SF_SMOKE, SF_ORACLE):
        pairs = _copurchase_pairs(spark, sf, min_support=2).select(
            F.col("u").alias("a"), F.col("v").alias("b")
        )
        st = {}
        out = kcore(pairs, _P8_K, stats=st)
        assert out.count() > 0
        assert out.filter(f"deg_in_core < {_P8_K}").count() == 0
        assert st["rounds"] <= _P8_ORACLE_ROUNDS - 2, (
            f"{sf}: peeling depth {st['rounds']} crowds the "
            f"{_P8_ORACLE_ROUNDS}-stage oracle unroll"
        )
    assert p8_kcore(spark, SF_ORACLE).count() > 0


def test_j9d_fast_verify_releases_same_pairs_as_j9b(spark):
    """The Arrow-verify twin must release EXACTLY j9b's pair set (the
    float-order caveat can only bite within ~1e-12 of tau, and the
    corpus gap is ~0.4 wide)."""
    from ma_anonymization_etl_spark.operators.similarity import (
        j9b_sim_pair_lsh,
        j9d_sim_pair_lsh_fast,
    )

    want = {(r.a_id, r.b_id) for r in j9b_sim_pair_lsh(spark, SF_SMOKE).collect()}
    got = {(r.a_id, r.b_id) for r in j9d_sim_pair_lsh_fast(spark, SF_SMOKE).collect()}
    assert got == want and got


def test_j9d_candidate_cosines_clear_tau_boundary(spark):
    """ADVICE r8: j9d's numpy verify reduces dots in SIMD order, which
    can differ from the oracle's sequential fold only in the last ulps
    — membership can flip ONLY for a candidate whose exact cosine sits
    within ~1e-12 of tau.  Pin the corpus gap: at the gated SFs every
    candidate pair's cosine must clear tau by a wide margin, so a
    corpus/jitter change that drifts a pair near the boundary fails
    HERE (named) instead of flaking the driver gate."""
    from ma_anonymization_etl_spark.functions.vectors import dot, norm
    from ma_anonymization_etl_spark.operators.similarity import (
        _J9B_TAU,
        _j9b_corpus_cand,
    )

    for sf in (SF_SMOKE, SF_ORACLE):
        corpus, cand, _ = _j9b_corpus_cand(spark, sf)
        va = corpus.select(
            F.col("vec_id").alias("a_id"), F.col("v").alias("va"),
            norm(F.col("v")).alias("na"),
        )
        vb = corpus.select(
            F.col("vec_id").alias("b_id"), F.col("v").alias("vb"),
            norm(F.col("v")).alias("nb"),
        )
        cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        gap = (
            cand.join(va, "a_id").join(vb, "b_id")
            .select(F.min(F.abs(cos - F.lit(_J9B_TAU))).alias("g"))
            .first()["g"]
        )
        assert gap is not None and gap > 1e-6, (
            f"{sf}: a candidate cosine sits {gap} from tau={_J9B_TAU} — "
            "inside SIMD-reduction wobble range; re-pin the corpus or "
            "exact-recheck boundary pairs"
        )


def test_session_caches_bounded_per_sf_dir(spark):
    """ADVICE r8: the session store must hold ONE (app, sf_dir)
    generation — switching corpora evicts and unpersists the old
    entries instead of growing executor storage without bound.  The
    generation is store-wide: a graph build on one corpus evicts j3's
    shingles of another, not only entries under its own tag."""
    from ma_anonymization_etl_spark.operators.graph import _copurchase_pairs_sup2
    from ma_anonymization_etl_spark.operators.llm import (
        _j50_corpus_toks,
        j3_dedup_near_minhash,
    )
    from ma_anonymization_etl_spark.sources.io import _SESSION_STORE

    t_small = _j50_corpus_toks(spark, SF_SMOKE)
    assert t_small.storageLevel.useMemory
    _j50_corpus_toks(spark, SF_ORACLE)
    dirs = {k[1] for k in _SESSION_STORE}
    assert dirs == {SF_ORACLE}, f"stale generations survived: {dirs}"
    assert not t_small.storageLevel.useMemory, "evicted entry stayed persisted"

    j3_dedup_near_minhash(spark, SF_SMOKE)
    [(sh_small, _)] = [
        v for k, v in _SESSION_STORE.items() if k[1:] == (SF_SMOKE, "j3_shingles")
    ]
    assert sh_small.storageLevel.useMemory
    _copurchase_pairs_sup2(spark, SF_ORACLE)
    dirs = {k[1] for k in _SESSION_STORE}
    assert dirs == {SF_ORACLE}, f"stale generations survived: {dirs}"
    assert not sh_small.storageLevel.useMemory, "evicted j3 shingles stayed persisted"
    # and back, so later tests in the session reuse the smoke corpus
    _j50_corpus_toks(spark, SF_SMOKE)


def test_sequence_packing_rejects_non_integral_ids(spark):
    """ADVICE r8: range bucketing narrows the engine to integral ids —
    a string id must raise the named TypeError, not misbucket."""
    import pytest

    from ma_anonymization_etl_spark.operators.llm import sequence_packing

    d = spark.createDataFrame(
        [("a", 10), ("b", 20)], "doc_id string, n_tok long"
    )
    with pytest.raises(TypeError, match="integral doc_id"):
        sequence_packing(d, seq_len=8)


def test_j52_positional_filter_exact_and_prunes(spark):
    """The containment positional/length filters (round 9) must prune
    candidates WITHOUT changing the released pairs — exactness is the
    contract; the reduction is the point."""
    from ma_anonymization_etl_spark.operators.llm import (
        _containment_candidates,
        _j50_corpus_toks,
        containment_join,
    )

    toks = _j50_corpus_toks(spark, SF_SMOKE)
    plain = {
        (r.a_id, r.b_id, r.containment)
        for r in containment_join(
            toks, 0.9, assume_distinct=True, positional=False
        ).collect()
    }
    pos = {
        (r.a_id, r.b_id, r.containment)
        for r in containment_join(toks, 0.9, assume_distinct=True).collect()
    }
    assert pos == plain and pos
    _, cu = _containment_candidates(toks, 0.9, assume_distinct=True, positional=False)
    _, cp = _containment_candidates(toks, 0.9, assume_distinct=True, positional=True)
    nu, np_ = cu.count(), cp.count()
    assert np_ < nu, f"positional filter pruned nothing ({nu} -> {np_})"


def test_j52b_cap_contract_boundary_and_corpus_equality(spark):
    """The df-cap is a RECALL CONTRACT: a pair whose entire overlap is
    hot tokens is dropped (by design, like an LSH band miss), while a
    pair with one sub-cap first-common token survives.  On the j50/j52
    corpus the cap is inactive (planted shingle dfs 2-4 << 64), so
    j52b must equal j52 there — a corpus fact the oracle difference
    makes worth pinning."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J52B_DF_CAP,
        containment_join,
        j52_containment_join,
        j52b_containment_capped,
    )

    # synthetic: docs 0/1 overlap ONLY via hot tokens (df = 6 > cap 5);
    # docs 10/11 share one rare token among their overlap.
    rows = []
    for d in range(6):  # h0..h9 hot in 6 docs
        for t in range(10):
            rows.append((d, f"h{t}"))
    # doc 0 and 1 are identical (all hot) -> containment 1.0 via hot only
    rows += [(10, f"h{t}") for t in range(9)] + [(10, "rare1")]
    rows += [(11, f"h{t}") for t in range(9)] + [(11, "rare1"), (11, "rare2")]
    toks = spark.createDataFrame(rows, "doc_id long, tok string")
    uncapped = {
        (r.a_id, r.b_id) for r in containment_join(toks, 0.9).collect()
    }
    capped = {
        (r.a_id, r.b_id)
        for r in containment_join(toks, 0.9, df_cap=5).collect()
    }
    assert (0, 1) in uncapped and (0, 1) not in capped  # hot-only pair lost
    assert (10, 11) in capped  # sub-cap first-common token survives
    assert capped <= uncapped

    a = {
        (r.a_id, r.b_id, r.containment)
        for r in j52_containment_join(spark, SF_SMOKE).collect()
    }
    b = {
        (r.a_id, r.b_id, r.containment)
        for r in j52b_containment_capped(spark, SF_SMOKE).collect()
    }
    assert _J52B_DF_CAP == 64 and a == b and a


def test_j50_router_branches_and_decision(spark):
    """j38-style routing for the set-similarity join (VERDICT r8 item
    1): each branch must equal its reference engine exactly, and the
    decision must follow the replayable estimate-vs-budget comparison
    on the gated corpora.  The LSH engine must also equal j3 when
    called on its own, and the ``near_dedup_drop`` route step (which
    calls it directly) must drop exactly the b_ids of j3's pairs."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.llm import (
        _J50B_BUDGET,
        _J50C_BUDGET,
        _J50_TAU,
        _j50_corpus_toks,
        j3_dedup_near_minhash,
        j50_jaccard_prefix_join,
        jaccard_join_routed,
        minhash_lsh_pairs,
        ssj_candidate_estimate,
    )
    from ma_anonymization_etl_spark.plans.pipeline import _step_near_dedup_drop
    from ma_anonymization_etl_spark.sources.io import load

    def pairs(df):
        return {(r.a_id, r.b_id, r.jaccard) for r in df.collect()}

    def routed(budget):
        out = jaccard_join_routed(toks, _J50_TAU, budget, assume_distinct=True)
        return pairs(out), {r.route for r in out.select("route").distinct().collect()}

    toks = _j50_corpus_toks(spark, SF_SMOKE)
    est = ssj_candidate_estimate(toks, _J50_TAU, assume_distinct=True)
    assert est > _J50C_BUDGET, "j50c must take the LSH branch at smoke SF"
    assert est <= _J50B_BUDGET, "j50b must take the exact branch at smoke SF"

    exact = pairs(j50_jaccard_prefix_join(spark, SF_SMOKE))
    assert routed(_J50B_BUDGET) == (exact, {"exact"}) and exact

    # the LSH branch is j3's engine over the same corpus: same banding,
    # same exact verify -> identical released pair set.
    lsh_ref = pairs(j3_dedup_near_minhash(spark, SF_SMOKE))
    sh = toks.groupBy("doc_id").agg(F.collect_set("tok").alias("shingles"))
    assert pairs(minhash_lsh_pairs(sh, _J50_TAU)) == lsh_ref and lsh_ref
    assert routed(_J50C_BUDGET) == (lsh_ref, {"lsh"})

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    kept = {r.doc_id for r in _step_near_dedup_drop(corpus, tau=_J50_TAU).collect()}
    dropped = {r.doc_id for r in corpus.collect()} - kept
    assert dropped == {b for (_, b, _) in lsh_ref}


def test_j32b_substring_dedup_action_planted(spark):
    """Planted-duplicate property for the span-masking ACTION: two long
    docs share an 8-word boilerplate head and nothing else -> exactly
    those 8 words must be masked from each, short full twins drop, a
    unique doc keeps verbatim, and the funnel counts add up."""
    from ma_anonymization_etl_spark.operators.llm import substring_dedup_release

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    u1 = " ".join(f"u{i}" for i in range(40))
    u2 = " ".join(f"v{i}" for i in range(40))
    uniq = " ".join(f"w{i}" for i in range(40))
    dup = " ".join(f"d{i}" for i in range(10))
    rows = [
        (1, f"{boiler} {u1}"),
        (2, f"{boiler} {u2}"),
        (3, uniq),
        (4, dup),
        (5, dup),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in substring_dedup_release(
            d, ngram=8, mask_min=0.02, drop_min=0.9
        ).collect()
    }

    # docs 4/5: every gram duplicated -> drop, text gone
    for i in (4, 5):
        assert out[i].action == "drop" and out[i].text_out is None
        assert out[i].n_words_masked == out[i].n_words == 10
    # doc 3: untouched
    assert out[3].action == "keep" and out[3].text_out == uniq
    assert out[3].n_words_masked == 0
    # docs 1/2: only the boilerplate head's single shared 8-gram is
    # duplicated (grams overlapping the unique tail differ), so words
    # 1..8 are masked and the unique tail survives verbatim
    for i, tail in ((1, u1), (2, u2)):
        r = out[i]
        assert r.action == "mask", r
        assert r.n_words_masked == 8
        assert r.text_out == tail
        assert r.n_dup == 1
    # funnel accounting
    from collections import Counter

    funnel = Counter(r.action for r in out.values())
    assert funnel == {"drop": 2, "mask": 2, "keep": 1}


def test_j54_bm25_semantics(spark):
    """BM25 fundamentals on a controlled corpus: tf saturation raises
    (sub-linearly) with term frequency, length normalization favours
    the shorter doc at equal tf, and a doc without query terms never
    appears."""
    from ma_anonymization_etl_spark.operators.llm import bm25_topk

    filler1 = " ".join(f"f{i}" for i in range(18))
    filler2 = " ".join(f"g{i}" for i in range(18))
    long_fill = " ".join(f"h{i}" for i in range(38))
    rows = [
        (1, f"apple apple apple {filler1[:-6]}"),   # tf=3, dl~20
        (2, f"apple {filler1} x"),                   # tf=1, dl=20
        (3, f"apple {long_fill} y"),                 # tf=1, dl=40 (longer)
        (4, f"{filler2} zz qq"),                     # no query term
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bm25_topk(d, query_terms=["apple"], k=10).collect()}
    assert 4 not in out
    assert out[1].bm25_micro > out[2].bm25_micro  # higher tf wins
    assert out[2].bm25_micro > out[3].bm25_micro  # shorter doc wins at equal tf
    assert [r for r in sorted(out.values(), key=lambda r: r.rank)][0].doc_id == 1
    # saturation: tf=3 must score LESS than 3x the tf=1 score
    assert out[1].bm25_micro < 3 * out[2].bm25_micro


def test_j54_registered_query_smoke(spark):
    from ma_anonymization_etl_spark.operators.llm import j54_bm25_topk

    out = j54_bm25_topk(spark, SF_SMOKE)
    rows = out.collect()
    assert 0 < len(rows) <= 100
    ranks = [r.rank for r in sorted(rows, key=lambda r: r.rank)]
    assert ranks == list(range(1, len(rows) + 1))
    scores = [r.bm25_micro for r in sorted(rows, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)


def test_j44_cell_target_derives_k(spark):
    """Round-9 OOM lesson: j44's k must grow with the corpus so cells
    stay ~_J44_CELL_TARGET vectors (the fixed k=8 version OOM'd the
    sf1 sweep building 125k-vector gram matrices).  The derivation is
    integer-exact and collapses to the old constant at gate SFs."""
    from ma_anonymization_etl_spark.operators.similarity import (
        _J44_CELL_TARGET,
        _KM_K,
        _km_fit_arrow,
    )
    from tests.km_referee import _km_fit

    assert _J44_CELL_TARGET == 10_000
    for n, want in ((400, 8), (10_000, 8), (80_001, 9), (400_000, 40)):
        k = max(_KM_K, (n + _J44_CELL_TARGET - 1) // _J44_CELL_TARGET)
        assert k == want, (n, k)
    # the loop (and its referee) honor a larger k: more distinct seeds
    # -> >8 clusters
    import pyspark.sql.functions as F

    corpus = (
        spark.range(64)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                F.col("id").cast("double"),
                (F.col("id") * F.col("id")).cast("double"),
                (F.col("id") % 3).cast("double") + F.lit(1.0),
                F.lit(1.0),
            ).alias("v"),
        )
    )
    assign, cents = _km_fit(corpus, k=16)
    n_cl = cents.count()
    assert 8 < n_cl <= 16, n_cl  # seeds honored (empty cells may collapse)
    cents = _km_fit_arrow(corpus.localCheckpoint(eager=True), k=16)[1]
    assert len(cents) == n_cl


def test_j44b_arrow_assignment_equals_declarative(spark):
    """j44 and j44b (the Arrow/BLAS Lloyd) must release EXACTLY the
    accounting of ``semdedup_release`` over the declarative ``_km_fit``
    referee (the oracle's replay, run in Spark — this pins
    engine-vs-engine), and the near-tie re-adjudication must pick the
    declarative winner on constructed exact ties (two identical
    centroids' clusters -> lower cl wins)."""
    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import (
        _J44_CELL_TARGET,
        _KM_K,
        _j44_corpus,
        _km_assign_arrow,
        j44_semantic_dedup,
        j44b_semdedup_fast,
        semdedup_release,
    )
    from tests.km_referee import _km_assign, _km_fit

    corpus = _j44_corpus(spark, SF_SMOKE)
    k = max(_KM_K, (corpus.count() + _J44_CELL_TARGET - 1) // _J44_CELL_TARGET)
    want_rel = {
        tuple(r) for r in semdedup_release(_km_fit(corpus, k=k)[0]).collect()
    }
    a = {
        tuple(r) for r in j44_semantic_dedup(spark, SF_SMOKE).collect()
    }
    b = {
        tuple(r) for r in j44b_semdedup_fast(spark, SF_SMOKE).collect()
    }
    assert a == b == want_rel and a

    # exact-tie corpus: centroids c0 == c2 (vec_id 0 and 2 identical),
    # every vector equally close to both -> declarative tie-break (lower
    # cl) must be reproduced by the arrow path's re-adjudication.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.7, 0.7, 0.0, 0.0]),
        (11, [0.9, 0.1, 0.0, 0.0]),
        (12, [0.1, 0.9, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = corpus.filter("vec_id < 3").selectExpr("vec_id as cl", "v as cent")
    want = {
        (r.vec_id, r.cl) for r in _km_assign(corpus, cents).collect()
    }
    got = {
        (r.vec_id, r.cl)
        for r in _km_assign_arrow(corpus, cents.collect()).collect()
    }
    assert got == want
    # the ties really landed on the LOWER cl (0, never 2)
    assert all(cl != 2 for _, cl in got)

    # the smoke corpus against its real first-8 seeds, with cl 6's seed
    # replaced by a copy of cl 5's: every row nearest that vector
    # (vec_id 5 at least) ties exactly and must land on cl 5
    e = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    seeds = dict(e.filter(F.col("vec_id") < 8).select("vec_id", "v").collect())
    seeds[6] = seeds[5]
    cents = spark.createDataFrame(
        sorted(seeds.items()), "cl long, cent array<double>"
    )
    want = {(r.vec_id, r.cl) for r in _km_assign(e, cents).collect()}
    got = {(r.vec_id, r.cl) for r in _km_assign_arrow(e, cents.collect()).collect()}
    assert got == want and len(got) == e.count()
    assert (5, 5) in got and all(cl != 6 for _, cl in got)


def test_j54b_multi_query_consistency(spark):
    """Each query set's multi-pass ranking must equal the single-query
    engine run with the same terms — one corpus pass may not change a
    single score or rank."""
    from ma_anonymization_etl_spark.operators.llm import (
        bm25_multi_topk,
        bm25_topk,
        top_terms,
    )
    from ma_anonymization_etl_spark.sources.io import load

    d = load(spark, SF_SMOKE, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    terms = top_terms(d, 15)
    queries = [(i, terms[i * 5:(i + 1) * 5]) for i in range(3)]
    multi = bm25_multi_topk(d, queries, k=20).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r.query_id, set()).add((r.doc_id, r.bm25_micro, r.rank))
    assert set(by_q) == {0, 1, 2}
    for qid, qterms in queries:
        single = {
            (r.doc_id, r.bm25_micro, r.rank)
            for r in bm25_topk(d, query_terms=qterms, k=20).collect()
        }
        assert by_q[qid] == single, f"query {qid} diverged"


def test_j55_ann_router_branches_and_decision(spark):
    """The j50b routing pattern on the vector side (VERDICT r9 item 2):
    branches picked through the budget (0 / 10**18) must equal their
    reference engines exactly, and the free decision must follow the
    replayable estimate-vs-budget comparison on the gated corpus."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.similarity import (
        _J55B_BUDGET,
        _J55_BUDGET,
        ann_scan_estimate,
        ann_topk_routed,
        exact_topk,
        ivf_topk,
    )
    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.sources.io import load

    e = load(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    key = lambda r: (r.query_id, r.neighbor_id, r.cos_sim)  # noqa: E731
    exact_ref = {key(r) for r in exact_topk(e, 3, 10).collect()}
    ivf_ref = {key(r) for r in ivf_topk(e, 3, 10).collect()}
    forced_exact = {
        key(r) for r in ann_topk_routed(e, 3, 10**18).collect()
    }
    forced_ivf = {
        key(r) for r in ann_topk_routed(e, 3, 0).collect()
    }
    assert forced_exact == exact_ref and exact_ref
    assert forced_ivf == ivf_ref and ivf_ref

    # The replayable decision: est = n_q * (N - 1), hand-recomputed.
    n = e.count()
    est = ann_scan_estimate(e, 10)
    assert est == 10 * (n - 1)
    assert est > _J55B_BUDGET, "j55b must take the IVF branch at gate SF"
    assert est <= _J55_BUDGET, "j55 must take the exact branch at gate SF"
    routes = {
        r.route
        for r in ann_topk_routed(e, 3, _J55B_BUDGET).select("route").distinct().collect()
    }
    assert routes == {"ivf"}


def test_j55_ivf_recall_trade_planted(spark):
    """The IVF contract made concrete (j28's recall audit as a planted
    property): a corpus where query 0's TRUE nearest neighbour is
    coarse-quantized to the OTHER cell — the exact branch must release
    it as top-1; the IVF branch must miss it and release only same-cell
    neighbours.  Both engines' released cosines are exact."""
    from ma_anonymization_etl_spark.operators.similarity import (
        ann_topk_routed,
    )

    # Label-0 cluster hugs e1, label-1 cluster hugs e2.  Query (vec_id
    # 0) sits between but tips to cell 0; the planted neighbour (vec_id
    # 7) is geometrically closest to the query yet tips to cell 1.
    rows = [
        (0, 0, [1.0, 0.95, 0.0, 0.0]),   # the query: nearest centroid 0
        (1, 0, [1.0, 0.01, 0.0, 0.0]),
        (2, 0, [1.0, 0.02, 0.0, 0.0]),
        (3, 0, [1.0, 0.03, 0.0, 0.0]),
        (4, 1, [0.0, 1.0, 0.01, 0.0]),
        (5, 1, [0.0, 1.0, 0.02, 0.0]),
        (6, 1, [0.0, 1.0, 0.03, 0.0]),
        (7, 1, [0.9, 1.0, 0.0, 0.0]),    # true NN of 0; tips to cell 1
    ]
    e = spark.createDataFrame(rows, "vec_id long, label long, v array<double>")

    ex = ann_topk_routed(e, 1, 10**18, n_queries=1).collect()
    assert [(r.query_id, r.neighbor_id) for r in ex] == [(0, 7)]

    iv = ann_topk_routed(e, 3, 0, n_queries=1).collect()
    got = {r.neighbor_id for r in iv}
    assert 7 not in got, "IVF must miss the cross-cell true NN"
    assert got == {1, 2, 3}, "IVF releases the query's cell only"
    # recall@3 on this corpus is measurable and < 1 — the trade is real,
    # and the router's budget is the dial that buys it back.
    exact3 = {
        r.neighbor_id
        for r in ann_topk_routed(e, 3, 10**18, n_queries=1).collect()
    }
    recall = len(exact3 & got) / 3
    assert 0 < recall < 1


def test_j56_maximal_dup_spans_planted(spark):
    """Planted spans for the ExactSubstr inventory (VERDICT r9 item 5):
    a 10-word block shared by two docs at different offsets releases
    one maximal span each, anchored and sized exactly; a WITHIN-doc
    repeated phrase releases two spans (occurrence-count semantics);
    two separate duplicated regions stay two rows; a whole-short-doc
    duplicate's span is capped at the doc length."""
    from ma_anonymization_etl_spark.operators.llm import maximal_dup_spans

    blk = " ".join(f"b{i}" for i in range(10))          # the shared block
    phr = " ".join(f"p{i}" for i in range(6))           # self-repeated phrase
    docs = [
        # block at words 5..14 of A (30 words total)
        (1, " ".join(f"a{i}" for i in range(4)) + " " + blk + " "
            + " ".join(f"a{i}" for i in range(4, 20))),
        # block at words 4..13 of B
        (2, " ".join(f"c{i}" for i in range(3)) + " " + blk + " "
            + " ".join(f"c{i}" for i in range(3, 10))),
        # C: phrase twice, separated by unique words -> two spans
        (3, phr + " " + " ".join(f"d{i}" for i in range(8)) + " " + phr),
        # identical 5-word docs: span capped at n_words=5 (not 2+4)
        (4, "e0 e1 e2 e3 e4"),
        (5, "e0 e1 e2 e3 e4"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r.doc_id, r.span_start, r.span_len)
        for r in maximal_dup_spans(d, ngram=4, min_span=5).collect()
    }
    a_spans = {(s, l) for (i, s, l) in out if i == 1}
    b_spans = {(s, l) for (i, s, l) in out if i == 2}
    assert a_spans == {(5, 10)}
    assert b_spans == {(4, 10)}
    c_spans = sorted((s, l) for (i, s, l) in out if i == 3)
    assert c_spans == [(1, 6), (15, 6)], c_spans
    assert {(s, l) for (i, s, l) in out if i == 4} == {(1, 5)}
    assert {(s, l) for (i, s, l) in out if i == 5} == {(1, 5)}


def test_j50_router_prebuilt_prefix_reuse_identical(spark):
    """The live-routed exact branch (which joins from the global-order
    table its estimate read) must release exactly the pairs of a
    from-scratch set_similarity_join."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J50_TAU,
        _j50_corpus_toks,
        jaccard_join_routed,
        set_similarity_join,
    )

    toks = _j50_corpus_toks(spark, SF_SMOKE)
    scratch = {
        (r.a_id, r.b_id, r.jaccard)
        for r in set_similarity_join(toks, _J50_TAU, assume_distinct=True).collect()
    }
    routed = {
        (r.a_id, r.b_id, r.jaccard)
        for r in jaccard_join_routed(
            toks, _J50_TAU, 10**18, assume_distinct=True  # live routing -> exact
        ).collect()
    }
    assert routed == scratch and scratch


def test_j57_multiprobe_reference_and_derivation(spark):
    """j57's release must equal a from-first-principles reference: the
    exact top-3 among Hamming<=1 candidates computed in numpy from the
    same seeded planes, and bits must follow the integer derivation
    rule.  Multi-probe recall vs the exact scan must be >= own-cell
    recall (the ring only ever ADDS candidates)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import (
        _j57_planes,
        exact_topk,
        multiprobe_ann_topk,
        multiprobe_cell_bits,
    )
    from ma_anonymization_etl_spark.sources.io import load

    e = load(spark, SF_ORACLE, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    rows = e.collect()
    n = len(rows)
    bits = multiprobe_cell_bits(n)
    assert bits == max(4, min(20, (max(2, int(np.ceil(np.sqrt(n)))) - 1).bit_length()))

    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.v for r in rows])
    P = np.array(_j57_planes()[:bits])
    S = (V @ P.T > 0).astype(int)  # (n, bits) signatures
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    def topk_within(ham_max, k=3):
        out = set()
        for qi in np.where(ids < 10)[0]:
            ham = (S != S[qi]).sum(axis=1)
            mask = (ham <= ham_max) & (ids != ids[qi])
            cand = np.where(mask)[0]
            cos = Vn[cand] @ Vn[qi]
            order = sorted(zip(-cos, ids[cand]))[:k]
            out |= {(int(ids[qi]), int(v), round(float(-c), 5)) for c, v in order}
        return out

    ref = topk_within(1)
    got = {
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in multiprobe_ann_topk(e, 3, 10).collect()
    }
    assert got == ref and ref

    # recall vs the exact scan: the Hamming-1 ring never loses to
    # own-cell-only probing
    exact3 = {
        (r.query_id, r.neighbor_id)
        for r in exact_topk(e, 3, 10).collect()
    }
    multi = {(q, v) for q, v, _ in ref}
    own = {(q, v) for q, v, _ in topk_within(0)}
    assert len(exact3 & multi) >= len(exact3 & own)
    # and the released n_bits attests the derivation on every row
    nb = {r.n_bits for r in multiprobe_ann_topk(e, 3, 10).collect()}
    assert nb == {bits}


def test_j58_cost_model_router_decision_and_equality(spark):
    """The cost-model router (round-10 closing): the decision must
    follow the hand-computed integer work estimates, and each branch
    must equal its reference engine exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.similarity import (
        ann_topk_cost_routed,
        exact_topk,
        ivf_topk,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, i % 10, [float(x) for x in rng.randn(8)]) for i in range(100)
    ]
    e = spark.createDataFrame(rows, "vec_id long, label long, v array<double>")
    n, c = 100, 10

    # div=100 -> nq=5: est_exact = 5*99 = 495 < est_ivf = 1000 + 5*10
    out = ann_topk_cost_routed(e, 3, panel_divisor=100)
    got = {(r.query_id, r.neighbor_id, r.cos_sim, r.route, r.n_queries)
           for r in out.collect()}
    assert {g[3] for g in got} == {"exact"} and {g[4] for g in got} == {5}
    ref = {(r.query_id, r.neighbor_id, r.cos_sim) for r in exact_topk(e, 3, 5).collect()}
    assert {(q, v, s) for q, v, s, _, _ in got} == ref and ref

    # div=2 -> nq=50: est_exact = 50*99 = 4950 > est_ivf = 1000 + 50*10
    out2 = ann_topk_cost_routed(e, 3, panel_divisor=2)
    got2 = {(r.query_id, r.neighbor_id, r.cos_sim, r.route, r.n_queries)
            for r in out2.collect()}
    assert {g[3] for g in got2} == {"ivf"} and {g[4] for g in got2} == {50}
    ref2 = {(r.query_id, r.neighbor_id, r.cos_sim) for r in ivf_topk(e, 3, 50).collect()}
    assert {(q, v, s) for q, v, s, _, _ in got2} == ref2 and ref2


def test_j59_prebuilt_index_probe_and_cache_reuse(spark):
    """The prebuilt-index contract (NEXT r10 item c): the session-cached
    index is built ONCE per (applicationId, sf_dir) — the second build
    call returns the same persisted DataFrame — and probing it releases
    exactly ``ivf_topk``'s cell-probed contract for the same panel.
    The release must never depend on reuse state: a probe of the
    direct, unreused build releases identically."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import (
        _ivf_assign,
        ivf_index_build,
        ivf_probe,
        ivf_topk,
    )
    from ma_anonymization_etl_spark.sources.io import load

    e = load(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    idx1 = ivf_index_build(spark, SF_ORACLE)
    idx2 = ivf_index_build(spark, SF_ORACLE)
    assert idx1 is idx2, "second build must be the cached index"

    key = lambda r: (r.query_id, r.neighbor_id, r.cos_sim)  # noqa: E731
    warm = {key(r) for r in ivf_probe(idx1, 3, 0, 10).collect()}
    ref = {key(r) for r in ivf_topk(e, 3, 10).collect()}
    assert warm == ref and ref, "probe must equal the inline IVF contract"

    # Disjoint second panel — j59b's shape: all query ids in [10, 20).
    batch2 = ivf_probe(idx1, 3, 10, 20).collect()
    assert batch2 and all(10 <= r.query_id < 20 for r in batch2)
    assert {r.query_id for r in batch2}.isdisjoint({q for q, _, _ in ref})

    # Cold rebuild (the direct build, no reuse) releases identically.
    cold = {key(r) for r in ivf_probe(_ivf_assign(e), 3, 0, 10).collect()}
    assert cold == warm


def test_j56b_char_spans_planted(spark):
    """Planted character-level spans (NEXT r10 item f): a 60-char block
    shared by two docs at different offsets releases one maximal span
    each at exact char anchors; a WITHIN-doc repeated 25-char phrase
    releases two spans (occurrence-count semantics); an identical pair
    of docs SHORTER than the gram width still releases, capped at the
    doc length (the single whole-doc window)."""
    import random

    from ma_anonymization_etl_spark.operators.llm import maximal_dup_spans_chars

    rng = random.Random(31)
    letters = "abcdefghijklmnopqrstuvwxyz"
    rnd = lambda n: "".join(rng.choice(letters) for _ in range(n))  # noqa: E731
    blk = rnd(60)
    phr = rnd(25)
    short = rnd(15)
    docs = [
        (1, rnd(37) + blk + rnd(25)),       # block at chars 38..97
        (2, blk + rnd(40)),                 # block at chars 1..60
        (3, phr + rnd(30) + phr),           # self-repeat: spans at 1 and 56
        (4, short),                         # identical short pair:
        (5, short),                         #   one whole-doc window each
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: []
        for r in maximal_dup_spans_chars(d, cgram=20, min_span=10).collect()
    }
    for r in maximal_dup_spans_chars(d, cgram=20, min_span=10).collect():
        got[r.doc_id].append((r.span_start, r.span_len, r.n_grams_in_span))
    for k in got:
        got[k].sort()
    assert got[1] == [(38, 60, 41)]
    assert got[2] == [(1, 60, 41)]
    assert got[3] == [(1, 25, 6), (56, 25, 6)]
    assert got[4] == [(1, 15, 1)] and got[5] == [(1, 15, 1)]


def test_j56c_skew_guard_bit_identical_on_hot_gram(spark):
    """The salted skew guard (VERDICT r10 item 1): on a corpus where
    ONE boilerplate block appears in 40 of 100 docs (every 20-char
    window inside it a df=40 hot gram — the shape that lands in a
    single task under the count window), the guarded release must be
    BIT-IDENTICAL to the window form's, at several salt widths
    including salts larger than the row count of a bucket."""
    import random

    from ma_anonymization_etl_spark.operators.llm import maximal_dup_spans_chars

    rng = random.Random(47)
    letters = "abcdefghijklmnopqrstuvwxyz "
    rnd = lambda n: "".join(rng.choice(letters) for _ in range(n))  # noqa: E731
    hot = "please accept all cookies to continue reading this page"  # 56 chars
    docs = []
    for i in range(100):
        body = rnd(80)
        # 40 % of docs carry the boilerplate at a varying offset.
        text = body[: 20 + i % 13] + hot + body[20 + i % 13 :] if i % 5 < 2 else body
        docs.append((i, text))
    d = spark.createDataFrame(docs, "doc_id long, text string")

    def release(salt):
        return sorted(
            (r.doc_id, r.span_start, r.span_len, r.n_grams_in_span)
            for r in maximal_dup_spans_chars(
                d, cgram=20, min_span=30, skew_salt=salt
            ).collect()
        )

    base = release(0)  # the window form
    assert len(base) >= 40  # every hot-block carrier releases its span
    for salt in (2, 32, 1024):
        assert release(salt) == base, f"salt={salt} changed the release"


def test_j56b_hashed_keys_bit_identical(spark):
    """The composite (xxhash64, crc32) gram key (VERDICT r11 item 1)
    is a pure shuffle-byte encoding: the release must be BIT-IDENTICAL
    to the raw-string-key form on a corpus with planted cross-doc,
    within-doc, and boilerplate-hot duplication — in the window form
    AND composed with the salted skew guard."""
    import random

    from ma_anonymization_etl_spark.operators.llm import maximal_dup_spans_chars

    rng = random.Random(53)
    letters = "abcdefghijklmnopqrstuvwxyz "
    rnd = lambda n: "".join(rng.choice(letters) for _ in range(n))  # noqa: E731
    blk = rnd(60)
    hot = "click here to unsubscribe from these email notifications"
    docs = []
    for i in range(60):
        body = rnd(70)
        if i % 3 == 0:
            body = body[:25] + blk + body[25:]
        if i % 4 == 0:
            body = body + hot
        docs.append((i, body))
    d = spark.createDataFrame(docs, "doc_id long, text string")

    def release(**kw):
        return sorted(
            (r.doc_id, r.span_start, r.span_len, r.n_grams_in_span)
            for r in maximal_dup_spans_chars(
                d, cgram=20, min_span=30, **kw
            ).collect()
        )

    base = release(hashed_keys=False)
    assert len(base) >= 20  # the planted block carriers release
    assert release(hashed_keys=True) == base
    assert release(hashed_keys=True, skew_salt=32) == base
    assert release(hashed_keys=False, skew_salt=32) == base


def test_j56d_multipass_bit_identical(spark):
    """The peak-footprint-bounded multipass ExactSubstr engine (round
    12): gram ranges PARTITION the key space, so the release must be
    BIT-IDENTICAL to the single-pass form at several pass counts —
    including passes larger than the duplicated-gram count — on a
    corpus with cross-doc, within-doc, and boilerplate duplication."""
    import random

    from ma_anonymization_etl_spark.operators.llm import (
        maximal_dup_spans_chars,
        maximal_dup_spans_chars_multipass,
    )

    rng = random.Random(67)
    letters = "abcdefghijklmnopqrstuvwxyz "
    rnd = lambda n: "".join(rng.choice(letters) for _ in range(n))  # noqa: E731
    blk = rnd(55)
    hot = "all rights reserved worldwide by the original publisher"
    docs = []
    for i in range(50):
        body = rnd(65)
        if i % 3 == 0:
            body = body[:20] + blk + body[20:]
        if i % 4 == 0:
            body = body + hot
        docs.append((i, body))
    d = spark.createDataFrame(docs, "doc_id long, text string")

    def release(df):
        return sorted(
            (r.doc_id, r.span_start, r.span_len, r.n_grams_in_span)
            for r in df.collect()
        )

    base = release(maximal_dup_spans_chars(d, cgram=20, min_span=30))
    assert len(base) >= 15
    for passes in (2, 5):
        got = release(
            maximal_dup_spans_chars_multipass(
                d, cgram=20, min_span=30, passes=passes
            )
        )
        assert got == base, f"passes={passes} changed the release"


def test_j56d_multipass_invocations_keep_their_own_scratch(spark, tmp_path):
    """Each multipass span inventory reads its own scratch: the first
    call's frame, collected after a second call on other docs, still
    releases the first corpus's spans.  A caller's existing scratch
    directory is refused and left as it was."""
    import pytest

    from ma_anonymization_etl_spark.operators.llm import (
        maximal_dup_spans_chars,
        maximal_dup_spans_chars_multipass,
    )

    def release(df):
        return sorted((r.doc_id, r.span_start, r.span_len) for r in df.collect())

    a = spark.createDataFrame([(0, "x" * 30 + "q" * 40), (1, "x" * 30 + "z" * 45)],
                              "doc_id long, text string")
    b = spark.createDataFrame([(7, "k" * 60), (8, "m" * 25 + "k" * 35)],
                              "doc_id long, text string")
    expect = [release(maximal_dup_spans_chars(d, cgram=20, min_span=25)) for d in (a, b)]
    assert all(expect) and expect[0] != expect[1]
    outs = [maximal_dup_spans_chars_multipass(d, cgram=20, min_span=25, passes=2)
            for d in (a, b)]
    assert [release(o) for o in outs] == expect

    mine = tmp_path / "mine"
    mine.mkdir()
    (mine / "keep.txt").write_text("caller data")
    with pytest.raises(ValueError, match="already exists"):
        maximal_dup_spans_chars_multipass(a, cgram=20, min_span=25, passes=2,
                                          scratch=str(mine))
    assert (mine / "keep.txt").read_text() == "caller data"


def test_j56d_auto_passes_derivation(spark, monkeypatch):
    """The byte-rational passes="auto" path (round-12 continuation):
    the pass count must follow the written peak-disk model with the
    MEASURED sf100 constants exactly, a budget below the irreducible
    covered-parquet floor must raise (not die mid-island), and the
    auto dispatch must release bit-identically to the explicit-int
    path it derives."""
    import math

    import pytest as _pytest

    from ma_anonymization_etl_spark.operators.llm import (
        _J56D_COV_PARQ_B,
        _J56D_MAX_PASSES,
        _J56D_OCC_SHUF_B,
        derive_dup_span_passes,
        maximal_dup_spans_chars,
        maximal_dup_spans_chars_multipass,
    )

    lens = [100, 60, 19, 5, 300]  # per-doc greatest(n-19, 1) window counts
    docs = [(i, "a" * n) for i, n in enumerate(lens)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    occ = sum(max(n - 19, 1) for n in lens)

    # Exact model replay at a mid-sized budget.
    budget = occ * _J56D_COV_PARQ_B + occ * _J56D_OCC_SHUF_B // 3
    want = min(
        max(
            1,
            math.ceil(
                occ * _J56D_OCC_SHUF_B / (budget - occ * _J56D_COV_PARQ_B)
            ),
        ),
        _J56D_MAX_PASSES,
    )
    assert derive_dup_span_passes(d, budget) == want
    # A huge budget needs one pass; a budget 1 B over the floor caps.
    assert derive_dup_span_passes(d, 10**15) == 1
    assert (
        derive_dup_span_passes(d, occ * _J56D_COV_PARQ_B + 1)
        == _J56D_MAX_PASSES
    )
    # Below (or at) the irreducible floor: a clear error, not a job
    # that dies mid-island.
    with _pytest.raises(ValueError, match="floor"):
        derive_dup_span_passes(d, occ * _J56D_COV_PARQ_B)

    # Dispatch: "auto" without any budget is an explicit error ...
    monkeypatch.delenv("SPARK_GRAFT_DISK_BUDGET", raising=False)
    with _pytest.raises(ValueError, match="SPARK_GRAFT_DISK_BUDGET"):
        maximal_dup_spans_chars_multipass(d, passes="auto")

    # ... and with a budget (here via the environment) the released
    # spans are bit-identical to the single-pass referee, whichever P
    # the model derives.
    dup = spark.createDataFrame(
        [(0, "x" * 30 + "q" * 40), (1, "x" * 30 + "z" * 45)],
        "doc_id long, text string",
    )

    def release(df):
        return sorted(
            (r.doc_id, r.span_start, r.span_len, r.n_grams_in_span)
            for r in df.collect()
        )

    base = release(maximal_dup_spans_chars(dup, cgram=20, min_span=25))
    # Four spans: the shared 30-char head per doc, plus each doc's
    # single-character run (self-repeating windows count, >= 2 total).
    assert len(base) == 4
    monkeypatch.setenv("SPARK_GRAFT_DISK_BUDGET", str(10**15))
    got_one = release(
        maximal_dup_spans_chars_multipass(dup, cgram=20, min_span=25, passes="auto")
    )
    assert got_one == base  # derived P=1 -> single-pass delegate
    tight = sum(max(n - 19, 1) for n in (70, 75)) * (
        _J56D_COV_PARQ_B + _J56D_OCC_SHUF_B // 2
    )
    got_multi = release(
        maximal_dup_spans_chars_multipass(
            dup, cgram=20, min_span=25, passes="auto",
            disk_budget_bytes=tight,
        )
    )
    assert got_multi == base  # derived P>=2 -> bounded path, same release


def test_km_round_arrow_bit_identical(spark):
    """The fused Lloyd round (assign and int64 partial sums in one Arrow
    pass, then one groupBy) must produce BIT-IDENTICAL centroids to the
    declarative referee's assign + posexplode recompute — including on
    adversarial quantization values (exact .5 ties both signs, near-tie
    one-ulp cases, negatives) where a wrong rounding replica would flip
    an int64 partial.  Its plan is one MapInPandas and one Exchange."""
    import random

    from ma_anonymization_etl_spark.operators.similarity import (
        _km_collect_centroids,
        _km_round_arrow,
    )
    from tests.km_referee import _km_assign, _km_recompute

    rng = random.Random(61)
    adversarial = [
        5e-7,        # s = 0.5 exact tie -> 1 (half away from zero)
        -5e-7,       # s = -0.5 -> -1
        1.5e-6,      # s = 1.5 -> 2
        -2.5e-6,     # s = -2.5 -> -3
        4.9999999999999994e-7,   # s just under 0.5: fl(s+0.5) == 1.0 trap
        -4.9999999999999994e-7,
    ]
    rows = []
    for i in range(200):
        v = [rng.uniform(-2, 2) for _ in range(8)]
        if i < len(adversarial) * 8:
            v[i % 8] = adversarial[i % len(adversarial)]
        rows.append((i, v))
    corpus = spark.createDataFrame(
        rows, "vec_id long, v array<double>"
    ).repartition(7).localCheckpoint(eager=True)  # several Arrow batches
    cents = spark.createDataFrame(rows[100:105], "cl long, cent array<double>")

    ref = {r.cl: list(r.cent) for r in _km_recompute(_km_assign(corpus, cents)).collect()}
    per_dim = _km_round_arrow(corpus, cents.collect())
    plan = per_dim._jdf.queryExecution().executedPlan().toString()  # before it runs
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") == 1, plan
    got = {r.cl: list(r.cent) for r in _km_collect_centroids(per_dim)}
    assert len(ref) > 1
    assert got == ref  # exact float equality: same bits


def test_j9d_f32_screen_boundary_adjudication(spark):
    """j9d's float32-shuffled verify (VERDICT r11 item 1): pairs whose
    screen cosine sits INSIDE the ±1e-4 boundary band around τ must be
    re-adjudicated against the float64 vectors — planted pairs at
    cos ≈ τ−5e-5 (boundary-drop), ≈ τ+5e-5 (boundary-keep), and ≈ τ
    exactly, plus a sure-keep (cos 1) and sure-drop (cos 0), must all
    match the direct float64 numpy decision, in BOTH the broadcast and
    shuffle lookup regimes."""
    import math

    import numpy as np

    from ma_anonymization_etl_spark.operators.similarity import (
        _J9B_TAU,
        pair_verify_f32_screen,
    )

    dim, tau = 64, _J9B_TAU

    def vec_at_cos(c):
        v = [0.0] * dim
        v[0], v[1] = c, math.sqrt(max(0.0, 1.0 - c * c))
        return v

    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    vecs = {
        0: e1,
        1: e1,                       # pair (0,1): cos 1 — sure keep
        2: e2,                       # pair (0,2): cos 0 — sure drop
        3: vec_at_cos(tau),          # pair (0,3): cos ≈ τ — boundary
        4: vec_at_cos(tau - 5e-5),   # boundary, float64 says drop
        5: vec_at_cos(tau + 5e-5),   # boundary, float64 says keep
    }
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, v array<double>"
    )
    cand = spark.createDataFrame(
        [(0, b) for b in range(1, 6)], "a_id long, b_id long"
    )

    def f64_keeps():
        out = set()
        for b in range(1, 6):
            x, y = np.array(vecs[0]), np.array(vecs[b])
            cos = np.einsum("i,i->", x, y) / (
                np.linalg.norm(x) * np.linalg.norm(y)
            )
            if cos >= tau:
                out.add((0, b))
        return out

    expect = f64_keeps()
    assert (0, 1) in expect and (0, 2) not in expect
    assert (0, 4) not in expect and (0, 5) in expect  # the planted band
    for bcast in (True, False):
        got = {
            (r.a_id, r.b_id)
            for r in pair_verify_f32_screen(
                cand, corpus, tau, broadcast_lookups=bcast
            ).collect()
        }
        assert got == expect, f"bcast={bcast}: {got} != {expect}"


def test_j9d_multipass_verify_release_identical(spark):
    """Round 13: the disk-bounded multipass verify
    (``pair_verify_f32_screen_multipass``, the j56d key-space-partition
    pattern) must release EXACTLY the single-pass set at several pass
    counts — the ranges partition pairs, so every pair is screened in
    exactly one pass with identical arithmetic.  Pinned on the j9b
    derived corpus at smoke SF (real banding candidates, planted
    near-dup pairs) against both single-pass regimes."""
    from ma_anonymization_etl_spark.operators.similarity import (
        _J9B_TAU,
        _j9b_corpus_cand,
        pair_verify_f32_screen,
        pair_verify_f32_screen_multipass,
    )

    corpus, cand, _ = _j9b_corpus_cand(spark, SF_SMOKE)
    base = {
        (r.a_id, r.b_id)
        for r in pair_verify_f32_screen(
            cand, corpus, _J9B_TAU, broadcast_lookups=True
        ).collect()
    }
    assert base, "smoke corpus must release pairs"
    for passes in (1, 3):
        got = {
            (r.a_id, r.b_id)
            for r in pair_verify_f32_screen_multipass(
                cand, corpus, _J9B_TAU, passes=passes
            ).collect()
        }
        assert got == base, f"passes={passes}: multipass drifted"


def test_j9d_multipass_invocations_release_their_own_pairs(spark, tmp_path):
    """Two multipass verifies in one session write separate scratch
    directories: each returned frame, read only after both calls ran,
    releases its own pair set.  A caller's existing scratch directory is
    refused and left as it was."""
    import pytest

    from ma_anonymization_etl_spark.operators.similarity import (
        _J9B_TAU,
        _j9b_corpus_cand,
        pair_verify_f32_screen,
        pair_verify_f32_screen_multipass,
    )

    corpus, cand, _ = _j9b_corpus_cand(spark, SF_SMOKE)
    halves = [cand.filter(F.col("a_id") % 2 == i) for i in (0, 1)]
    expect = [
        {(r.a_id, r.b_id) for r in pair_verify_f32_screen(
            c, corpus, _J9B_TAU, broadcast_lookups=True).collect()}
        for c in halves
    ]
    assert all(expect) and expect[0] != expect[1]
    outs = [pair_verify_f32_screen_multipass(c, corpus, _J9B_TAU, passes=2)
            for c in halves]
    assert [{(r.a_id, r.b_id) for r in o.collect()} for o in outs] == expect

    mine = tmp_path / "mine"
    mine.mkdir()
    (mine / "keep.txt").write_text("caller data")
    with pytest.raises(ValueError, match="already exists"):
        pair_verify_f32_screen_multipass(
            cand, corpus, _J9B_TAU, passes=2, scratch=str(mine))
    assert (mine / "keep.txt").read_text() == "caller data"
    fresh = tmp_path / "fresh"
    got = pair_verify_f32_screen_multipass(
        halves[0], corpus, _J9B_TAU, passes=2, scratch=str(fresh))
    assert {(r.a_id, r.b_id) for r in got.collect()} == expect[0]


def test_j54c_bm25f_single_field_reduction_and_title_boost(spark):
    """BM25F properties (NEXT r10 item d): (1) with one field, b=0 and
    unit weights, BM25F reduces EXACTLY to BM25 — wtf = tf and
    tf(k1+1)/(tf+k1·B) = wtf(k1+1)/(wtf+k1), bit-for-bit in the floored
    integer scores; (2) with default weights a term hit in the derived
    title outranks the same total tf sitting in the body; (3) an
    all-title corpus (every doc shorter than title_len) scores without
    NaN via the avgdl_body guard."""
    from ma_anonymization_etl_spark.operators.llm import bm25_topk, bm25f_topk
    from ma_anonymization_etl_spark.sources.io import load
    from pyspark.sql import functions as F

    d = load(spark, SF_ORACLE, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    # (1) exact reduction: everything-is-title, per-field norm off.
    red = {
        (r.doc_id, r.bm25f_micro)
        for r in bm25f_topk(
            d, b_title=0.0, b_body=0.0, w_title=1.0, w_body=1.0,
            title_len=10**6, k=100,
        ).collect()
    }
    ref = {
        (r.doc_id, r.bm25_micro) for r in bm25_topk(d, b=0.0, k=100).collect()
    }
    assert red == ref and ref

    # (2) planted title boost: same corpus-wide stats, hit placement
    # differs.  Docs are 10 words; 'zzq' sits at position 1 (title) in
    # doc 1 and position 10 (body) in doc 2.
    filler = ["w%d" % i for i in range(9)]
    docs = [
        (1, " ".join(["zzq"] + filler)),
        (2, " ".join(filler + ["zzq"])),
        (3, " ".join("x%d" % i for i in range(10))),
    ]
    p = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.bm25f_micro for r in bm25f_topk(p, ["zzq"], k=10).collect()}
    assert set(got) == {1, 2} and got[1] > got[2] > 0

    # (3) all-title corpus: dl_body = 0 everywhere; guard must release
    # finite scores (no NaN floor -> no missing rows).
    short = spark.createDataFrame(
        [(1, "a b zzq"), (2, "a zzq c"), (3, "a b c")],
        "doc_id long, text string",
    )
    rows = bm25f_topk(short, ["zzq"], title_len=8, k=10).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.bm25f_micro > 0 for r in rows)


def test_j60_fuzzy_dedup_blocking_and_verify(spark):
    """j60's contract pinned on planted pairs: a middle edit (both
    blocks intact) is found with its exact distance; a prefix-only edit
    is found via the suffix key; an edit touching BOTH blocks is missed
    (the documented multi-key blocking recall trade); a length gap
    > tau is excluded by the lower-bound filter before any verify."""
    from ma_anonymization_etl_spark.operators.llm import fuzzy_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base[:30] + "XY" + base[32:]),          # middle edit, dist 2
        (3, "ZZ" + base[2:]),                       # prefix edit -> suffix key
        (4, "QQ" + base[2:-2] + "WW"),              # both blocks edited
        (5, base + " plus twenty-five more characters"),  # len gap > tau
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.a_id, r.b_id): r.dist
        for r in fuzzy_dup_pairs(d, tau=4, block_len=16).collect()
    }
    assert got.get((1, 2)) == 2, "middle edit must verify at exact distance"
    assert got.get((1, 3)) == 2, "prefix edit must be caught by the suffix key"
    assert (2, 3) in got, "2 vs 3 share the suffix block (dist 4)"
    assert got[(2, 3)] == 4
    assert not any(4 in p for p in got), (
        "both-block edits are the documented blocking miss"
    )
    assert not any(5 in p for p in got), "length lower bound must exclude 5"
    # Two sides (k26's batch x store): a_id from the first side, b_id
    # from ``other``, no id order imposed — the twins carry the higher
    # ids, so every pair arrives with a_id > b_id.
    twins, originals = d.filter("doc_id > 1"), d.filter("doc_id = 1")
    cross = fuzzy_dup_pairs(twins, tau=4, block_len=16, other=originals).collect()
    assert cross and all(r.a_id > r.b_id for r in cross)
    assert {(min(r.a_id, r.b_id), max(r.a_id, r.b_id)): r.dist for r in cross} == {
        p: v for p, v in got.items() if 1 in p
    }


def test_q11_jsd_zero_bound_and_ordering(spark):
    """JSD properties: a group distributed exactly like the corpus
    vocabulary scores ~0; every score sits in [0, ln 2]; a group
    concentrated on one token diverges more than a mildly skewed one."""
    from ma_anonymization_etl_spark.operators.quality import token_js_divergence

    # Three groups over a 2-token vocabulary; corpus = (210 a, 90 b) =
    # (0.7, 0.3), so 'uniform' (70/30) matches the corpus mix exactly.
    rows = []
    def add(src, a, b):
        rows.append((src, " ".join(["a"] * a + ["b"] * b)))
    add("uniform", 70, 30)
    add("mild", 60, 40)
    add("hard", 80, 20)
    d = spark.createDataFrame(rows, "source string, text string")
    got = {r.source: r.jsd_nano for r in token_js_divergence(d, top_k=2).collect()}
    ln2_nano = 693_147_181
    assert got["uniform"] == 0, "exact corpus mix must score 0"
    assert all(0 <= v <= ln2_nano for v in got.values())
    assert got["hard"] > got["mild"] > 0
    pres = {r.source: r.n_topk_present
            for r in token_js_divergence(d, top_k=2).collect()}
    assert pres == {"uniform": 2, "mild": 2, "hard": 2}


def test_j62_cluster_canonical_quality_rule(spark):
    """Canonical selection properties: exactly one canonical per
    cluster; the canonical maximizes stop_frac (tie -> lowest id) and
    can be a HIGHER id than the min-id survivor (the rule genuinely
    differs from j23's); singleton members of comp release themselves."""
    from ma_anonymization_etl_spark.operators.llm import cluster_canonical

    comp = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (7, 7), (7, 8)],
        "component long, doc_id long",
    )
    corpus = spark.createDataFrame(
        [
            (1, "x y z w"),                 # stop_frac 0
            (2, "the of a b"),              # stop_frac 3/4  <- canonical
            (3, "the a b c"),               # stop_frac 2/4
            (7, "the quick fox"),           # 1/3  <- canonical (ties none)
            (8, "q w e r t y"),             # 0
        ],
        "doc_id long, text string",
    )
    rows = cluster_canonical(comp, corpus).collect()
    canon = {r.component: r.doc_id for r in rows if r.is_canonical}
    assert canon == {1: 2, 7: 7}
    per_comp = {}
    for r in rows:
        per_comp.setdefault(r.component, []).append(r)
    assert all(sum(x.is_canonical for x in v) == 1 for v in per_comp.values())
    # tie -> lowest id: two docs with identical stop_frac
    comp2 = spark.createDataFrame([(4, 4), (4, 5)], "component long, doc_id long")
    corpus2 = spark.createDataFrame(
        [(4, "the a b c"), (5, "of a b c")], "doc_id long, text string"
    )
    canon2 = {
        r.component: r.doc_id
        for r in cluster_canonical(comp2, corpus2).collect()
        if r.is_canonical
    }
    assert canon2 == {4: 4}


def test_j60b_middle_key_buys_back_both_end_edits(spark):
    """The 3-key recall dial (NEXT r10b item d): the pair whose edits
    hit BOTH the prefix and suffix blocks — j60's documented miss — is
    caught by the middle block; a pair with edits in all THREE blocks
    still escapes (the contract's new boundary)."""
    from ma_anonymization_etl_spark.operators.llm import fuzzy_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    mid = len(base) // 2
    three = "ZZ" + base[2:mid] + "XX" + base[mid + 2:-2] + "WW"  # all 3 blocks
    docs = [
        (1, base),
        (4, "QQ" + base[2:-2] + "WW"),   # prefix+suffix edited, middle intact
        (6, three),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    two_key = {
        (r.a_id, r.b_id) for r in fuzzy_dup_pairs(d, tau=4, block_len=16).collect()
    }
    three_key = {
        (r.a_id, r.b_id): r.dist
        for r in fuzzy_dup_pairs(d, tau=6, block_len=16,
                                 keys=("p", "s", "m")).collect()
    }
    assert (1, 4) not in two_key, "two-key blocking must miss prefix+suffix edits"
    assert three_key.get((1, 4)) == 4, "middle key must catch it at exact distance"
    # 6 vs 1 edits all three blocks -> the contract's remaining miss.
    # (6 vs 4 IS caught — they share the 'WW' suffix block — dist 4.)
    assert (1, 6) not in three_key, (
        "edits across all three blocks remain the documented miss"
    )
    assert three_key.get((4, 6)) == 4


def test_j60c_block_df_cap_drops_hot_block_keeps_subcap_pairs(spark):
    """The block df-cap contract (VERDICT r10 item 2): on a corpus
    where 30 of 40 docs share one boilerplate prefix block, the cap
    (1) keeps every pair that also shares a sub-cap block (the twins
    pair through their suffix), (2) drops the pair whose ONLY shared
    block is the hot prefix — the narrowed contract's explicit trade,
    present uncapped — and (3) the capped release is a subset of the
    uncapped one."""
    import random

    from ma_anonymization_etl_spark.operators.llm import fuzzy_dup_pairs

    rng = random.Random(53)
    letters = "abcdefghijklmnopqrstuvwxyz"
    rnd = lambda n: "".join(rng.choice(letters) for _ in range(n))  # noqa: E731
    header = "breaking news -- "  # 17 chars: prefix-16 block is constant
    docs = []
    for i in range(30):  # hot block: 30 docs share the prefix
        docs.append((i, header + rnd(50)))
    # a planted twin pair INSIDE the hot block: shares hot prefix AND
    # its own suffix (sub-cap) — must survive the cap via the suffix.
    docs.append((100, header + "the rain in spain stays mainly on the plain"))
    docs.append((101, header + "the rain qq spain stays mainly on the plain"))
    # a pair whose ONLY shared block is the hot prefix: identical heads,
    # completely different (same-length) tails longer than tau edits —
    # uncapped they candidate on the prefix and FAIL the verify, so use
    # tails within tau edits but with both suffix-16 blocks differing:
    # tail edits placed inside the last 16 chars at different spots.
    t = rnd(40)
    docs.append((200, header + t[:30] + "abcde" + t[35:]))
    docs.append((201, header + t[:30] + "vwxyz" + t[35:]))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = {
        (r.a_id, r.b_id) for r in fuzzy_dup_pairs(d, tau=5, block_len=16).collect()
    }
    capped = {
        (r.a_id, r.b_id)
        for r in fuzzy_dup_pairs(d, tau=5, block_len=16, block_df_cap=8).collect()
    }
    assert (100, 101) in capped, "sub-cap suffix block must keep the twin pair"
    assert (200, 201) in uncapped, "hot-prefix-only pair is a true pair uncapped"
    assert (200, 201) not in capped, "hot-prefix-only pair is the cap's trade"
    assert capped <= uncapped, "cap must only remove pairs, never add"
    # Two sides: a block's df counts both, so the cross pairs are the
    # one-side capped pairs that span the sides.
    right = d.filter(F.col("doc_id").isin(101, 201))
    cross = fuzzy_dup_pairs(
        d.subtract(right), tau=5, block_len=16, block_df_cap=8, other=right
    ).collect()
    assert {(min(r.a_id, r.b_id), max(r.a_id, r.b_id)) for r in cross} == {
        p for p in capped if len(set(p) & {101, 201}) == 1
    }


def test_j63_mp_prebuilt_index_reuse_and_equality(spark):
    """The multiprobe amortized contract (j59's discipline on the
    scaling codebook): second build is the cached index; probing it
    equals the inline j57 release for the same panel; disjoint panels
    stay disjoint; a cold rebuild (the direct, unreused build) releases
    identically."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import (
        _mp_sign,
        multiprobe_ann_topk,
        multiprobe_cell_bits,
        multiprobe_index_build,
        multiprobe_probe,
    )
    from ma_anonymization_etl_spark.sources.io import load

    e = load(spark, SF_ORACLE, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    sig1, bits1 = multiprobe_index_build(spark, SF_ORACLE)
    sig2, bits2 = multiprobe_index_build(spark, SF_ORACLE)
    assert sig1 is sig2 and bits1 == bits2

    key = lambda r: (r.query_id, r.neighbor_id, r.cos_sim, r.n_bits)  # noqa: E731
    warm = {key(r) for r in multiprobe_probe(sig1, bits1, 3, 0, 10).collect()}
    ref = {key(r) for r in multiprobe_ann_topk(e, 3, 10).collect()}
    assert warm == ref and ref

    batch2 = multiprobe_probe(sig1, bits1, 3, 10, 20).collect()
    assert batch2 and all(10 <= r.query_id < 20 for r in batch2)

    bits3 = multiprobe_cell_bits(e.count())
    assert bits3 == bits1
    cold = {key(r) for r in multiprobe_probe(_mp_sign(e, bits3), bits3, 3, 0, 10).collect()}
    assert cold == warm


def test_copurchase_sup2_cache_shared_and_exact(spark):
    """Round 12: the min-support co-purchase pair list is built ONCE per
    (applicationId, sf_dir) and shared by p2/p4/p5/p7/p7b/p8 — a second
    call must return the SAME checkpointed DataFrame (no rebuild of the
    lineitem self-join), and the cached rows must equal the uncached
    computation exactly (the cache may never change values)."""
    from ma_anonymization_etl_spark.operators.graph import (
        _copurchase_pairs,
        _copurchase_pairs_sup2,
    )

    first = _copurchase_pairs_sup2(spark, SF_SMOKE)
    second = _copurchase_pairs_sup2(spark, SF_SMOKE)
    assert first is second, "sup2 pair list rebuilt on the second call"

    cached = {(r.u, r.v) for r in first.collect()}
    fresh = {
        (r.u, r.v)
        for r in _copurchase_pairs(spark, SF_SMOKE, min_support=2).collect()
    }
    assert cached == fresh and len(cached) > 0
