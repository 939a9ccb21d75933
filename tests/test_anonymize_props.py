"""Property-based tests for the stochastic / adaptive anonymization
operators that have no DuckDB oracle (SURVEY §5.2): noise bounds &
seed-reproducibility, swap multiset invariance, k/l guarantees,
Mondrian partition sizes, and the pipeline composer's config errors."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.operators import anonymize as A
from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline, classify_columns
from ma_anonymization_etl_spark.sources.io import load
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def customer(spark):
    df = load(spark, SF_ORACLE, "customer").cache()
    yield df
    # Unpersist, or the cached relation substitutes into later tests'
    # plans (plan-based cache matching) and breaks the scan-shape audits.
    df.unpersist()


def test_perturb_uniform_bounds_and_mean(spark, customer):
    scale = 100.0
    out = customer.select(
        "c_acctbal", A.perturb_uniform("c_acctbal", scale, seed=42).alias("noised")
    )
    stats = out.select(
        F.max(F.abs(F.col("noised") - F.col("c_acctbal"))).alias("max_dev"),
        F.avg(F.col("noised") - F.col("c_acctbal")).alias("mean_dev"),
    ).collect()[0]
    assert stats["max_dev"] <= scale / 2
    assert abs(stats["mean_dev"]) < scale / 10  # zero-mean within tolerance


def test_perturb_uniform_seed_reproducible(spark, customer):
    a = [r["n"] for r in customer.select(
        A.perturb_uniform("c_acctbal", 50.0, seed=7).alias("n")).collect()]
    b = [r["n"] for r in customer.select(
        A.perturb_uniform("c_acctbal", 50.0, seed=7).alias("n")).collect()]
    c = [r["n"] for r in customer.select(
        A.perturb_uniform("c_acctbal", 50.0, seed=8).alias("n")).collect()]
    assert a == b
    assert sorted(a) != sorted(c)


def test_perturb_laplace_properties(spark, customer):
    eps, sens = 1.0, 100.0
    out = customer.select(
        (A.perturb_laplace("c_acctbal", eps, sens, seed=3) - F.col("c_acctbal")).alias("noise")
    )
    rows = [r["noise"] for r in out.collect()]
    assert all(not math.isnan(x) and not math.isinf(x) for x in rows)
    # Laplace(b): mean |noise| = b = sens/eps = 100; loose 3-sigma-ish band.
    mean_abs = sum(abs(x) for x in rows) / len(rows)
    assert 60 < mean_abs < 160
    # Symmetry: roughly half the draws negative.
    frac_neg = sum(x < 0 for x in rows) / len(rows)
    assert 0.4 < frac_neg < 0.6


def test_swap_preserves_group_multisets(spark, customer):
    src = customer.select("c_custkey", "c_nationkey", "c_acctbal")
    swapped = A.swap_within_group(src, "c_acctbal", ["c_nationkey"], seed=42)
    before = sorted((r["c_nationkey"], r["c_acctbal"]) for r in src.collect())
    after = sorted((r["c_nationkey"], r["c_acctbal"]) for r in swapped.collect())
    assert before == after
    assert swapped.count() == src.count()
    # And the pairing actually changed for a decent share of rows.
    joined = src.alias("a").join(swapped.alias("b"), on="c_custkey")
    moved = joined.filter(F.col("a.c_acctbal") != F.col("b.c_acctbal")).count()
    assert moved > src.count() * 0.5


def test_k_enforce_suppress_guarantee(spark, customer):
    qis = ["c_nationkey", "c_mktsegment"]
    out = A.k_enforce_suppress(customer, qis, k=10)
    k_after = A.k_anonymity_metric(out, qis).collect()[0]["k_anonymity"]
    assert k_after >= 10
    assert out.count() < customer.count()  # something was actually suppressed


def test_k_enforce_generalize_minimal_level(spark, customer):
    k = 8
    ladder = [(f"bin{w}", A.generalize_numeric("c_acctbal", w)) for w in (100, 500, 2000, 10000)]
    out, level = A.k_enforce_generalize(customer, ["c_nationkey"], k, ladder, "gen")
    k_after = (
        A.k_anonymity_metric(out, ["c_nationkey", "gen"]).collect()[0]["k_anonymity"]
    )
    assert k_after >= k or level == len(ladder) - 1
    if level > 0:  # the previous (finer) level must violate k — minimality
        finer = customer.withColumn("gen", ladder[level - 1][1])
        k_finer = (
            A.k_anonymity_metric(finer, ["c_nationkey", "gen"]).collect()[0]["k_anonymity"]
        )
        assert k_finer < k


def test_l_diversity_guarantee(spark, customer):
    src = customer.withColumn("sa_bin", A.generalize_numeric("c_acctbal", 1000))
    out = A.l_diversity_enforce(src, ["c_nationkey", "c_mktsegment"], "sa_bin", 3)
    min_l = (
        A.l_diversity_metric(out, ["c_nationkey", "c_mktsegment"], "sa_bin")
        .agg(F.min("l_diversity"))
        .collect()[0][0]
    )
    assert min_l >= 3


def test_perturb_laplace_finite_at_uniform_extremes(spark):
    # ADVICE r1: u -> ±0.5 made log(1-2|u|) = -inf.  Inject the exact
    # boundary draws and check the clamp keeps the noise finite.
    df = spark.createDataFrame([(0.0,), (0.5,), (1.0 - 2**-53,)], "u double")
    out = df.select(
        A.perturb_laplace(F.lit(0.0), 1.0, 100.0, seed=0, uniform=F.col("u")).alias("n")
    )
    vals = [r["n"] for r in out.collect()]
    assert all(math.isfinite(x) for x in vals)
    # Bounded by b * -log(2e-12) ~ 27.6b.
    assert all(abs(x) < 30 * 100.0 for x in vals)


def test_t_closeness_range(spark, customer):
    out = A.t_closeness_metric(customer, ["c_nationkey"], "c_mktsegment").collect()
    assert len(out) == 25
    assert all(0.0 <= r["t_closeness"] <= 1.0 for r in out)


def test_t_closeness_counts_null_sa(spark):
    # ADVICE r1: NULL SA rows were dropped by the equi-join but counted
    # in n_class, understating TVD.  Class "a" is all-NULL SA, class "b"
    # all-"x": with null-safe joins each class TVD = the other class's
    # global mass = 0.5.
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", "x"), ("b", "x")],
        "qi string, sa string",
    )
    out = {r["qi"]: r["t_closeness"]
           for r in A.t_closeness_metric(df, ["qi"], "sa").collect()}
    assert out == {"a": 0.5, "b": 0.5}


def test_mondrian_hybrid_rejects_pid_overflow(spark, customer):
    # (strict_levels+1) + (max_depth+1) bits must fit a signed int64.
    with pytest.raises(ValueError, match="63-bit"):
        A.mondrian_kanon_hybrid(
            customer, ["c_acctbal", "c_nationkey"], k=8,
            strict_levels=4, max_depth=60,
        )


def test_mondrian_k_guarantee(spark, customer):
    k = 25
    out = A.mondrian_kanon(
        customer.select("c_custkey", "c_nationkey", "c_acctbal"),
        ["c_acctbal", "c_nationkey"], k=k,
    ).cache()
    sizes = out.groupBy("mondrian_pid").count().collect()
    assert all(r["count"] >= k for r in sizes)
    assert len(sizes) > 1  # it actually split
    assert out.count() == customer.count()  # partition-preserving
    # Range columns really bound the data.
    bad = out.filter(
        (F.col("c_acctbal") < F.col("c_acctbal_lo"))
        | (F.col("c_acctbal") > F.col("c_acctbal_hi"))
    ).count()
    assert bad == 0


def test_mondrian_pids_same_on_every_ansi_setting(spark, customer):
    # The split lookup misses for every pid that does not split; the miss
    # must read as NULL (pid unchanged) whatever spark.sql.ansi.enabled is.
    prev = spark.conf.get("spark.sql.ansi.enabled")
    pids = {}
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            out = A.mondrian_kanon(
                customer.select("c_custkey", "c_nationkey", "c_acctbal"),
                ["c_acctbal", "c_nationkey"], k=25,
            )
            pids[ansi] = sorted(
                (r["c_custkey"], r["mondrian_pid"])
                for r in out.select("c_custkey", "mondrian_pid").collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert pids["true"] == pids["false"]
    assert len({p for _, p in pids["true"]}) > 1  # it actually split


def test_mondrian_relaxed_k_and_sizes(spark, customer):
    k = 25
    df = customer.select("c_custkey", "c_nationkey", "c_acctbal")
    out = A.mondrian_kanon_relaxed(df, ["c_acctbal", "c_nationkey"], k=k).cache()
    sizes = out.groupBy("mondrian_pid").count().collect()
    # Relaxed partitioning always splits n >= 2k, so sizes are in [k, 2k-1].
    assert all(k <= r["count"] <= 2 * k - 1 for r in sizes)
    assert len(sizes) > 1
    assert out.count() == df.count()
    bad = out.filter(
        (F.col("c_acctbal") < F.col("c_acctbal_lo"))
        | (F.col("c_acctbal") > F.col("c_acctbal_hi"))
    ).count()
    assert bad == 0
    # Labels render the range columns verbatim.
    labeled = A.mondrian_range_labels(out, ["c_nationkey"]).first()
    assert labeled["c_nationkey_range"] == (
        f"[{labeled['c_nationkey_lo']},{labeled['c_nationkey_hi']}]"
    )


def test_mondrian_hybrid_k_guarantee(spark, customer):
    k = 25
    df = customer.select("c_custkey", "c_nationkey", "c_acctbal")
    out = A.mondrian_kanon_hybrid(
        df, ["c_acctbal", "c_nationkey"], k=k, strict_levels=3
    ).cache()
    sizes = out.groupBy("mondrian_pid").count().collect()
    assert all(r["count"] >= k for r in sizes)
    # Refinement continues past the strict phase: at least as many
    # classes as 2^strict_levels could ever produce alone, and every
    # still-splittable class got split (relaxed guarantee: < 2k).
    assert all(r["count"] < 2 * k for r in sizes)
    assert out.count() == df.count()
    bad = out.filter(
        (F.col("c_acctbal") < F.col("c_acctbal_lo"))
        | (F.col("c_acctbal") > F.col("c_acctbal_hi"))
    ).count()
    assert bad == 0


def test_mondrian_utility_compare_shape(spark, customer):
    df = customer.select("c_custkey", "c_nationkey", "c_acctbal")
    rows = {r["mode"]: r for r in A.mondrian_utility_compare(
        df, ["c_acctbal", "c_nationkey"], k=25
    ).collect()}
    assert set(rows) == {"strict", "relaxed"}
    for r in rows.values():
        assert r["min_class_size"] >= 25
        assert r["n_classes"] > 1
        assert 0.0 <= r["avg_ncp"] <= 1.0


def test_classify_columns_roles():
    cfg = {"c_name": "di", "c_nationkey": "qi", "c_acctbal": "sa", "c_custkey": "keep"}
    roles = classify_columns(cfg)
    assert roles["di"] == ["c_name"]
    with pytest.raises(ValueError, match="unknown role"):
        classify_columns({"x": "banana"})


def test_pipeline_unknown_op(spark, customer):
    with pytest.raises(ValueError, match="unknown pipeline op"):
        anonymize_pipeline(customer, [{"op": "nope"}])


def test_approx_percentile_accuracy(spark):
    o = load(spark, SF_ORACLE, "orders")
    rows = (
        o.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("approx"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
        )
        .collect()
    )
    for r in rows:  # 1/accuracy relative-rank error → tight at 10000
        assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.01


def test_approx_count_distinct_accuracy(spark):
    e = load(spark, SF_ORACLE, "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(3, 0.05 * r["exact"])


def test_i44_delta_presence_planted_bands(spark):
    """δ-presence flags BOTH disclosure directions: a fully-released
    class (δ=1, presence pinned) and a fully-withheld class (δ=0,
    absence pinned) violate; an in-band class does not; counts and δ
    are exact."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.anonymize import delta_presence

    rows = (
        [("all", i, True) for i in range(10)]
        + [("none", 100 + i, False) for i in range(10)]
        + [("mid", 200 + i, i < 4) for i in range(10)]  # δ = 0.4
    )
    df = spark.createDataFrame(rows, "cls string, pid int, in_sample boolean")
    out = {
        r.cls: (r.n_pop, r.n_sample, r.delta, r.violates)
        for r in delta_presence(df, ["cls"], "in_sample", 0.2, 0.6).collect()
    }
    assert out["all"] == (10, 10, 1.0, True)
    assert out["none"] == (10, 0, 0.0, True)
    assert out["mid"] == (10, 4, 0.4, False)


def test_i45_recursive_cl_diversity_planted(spark):
    """Recursive (c,l): a class dominated by one SA value fails even
    with many nominal values; a balanced class passes; the boundary is
    strict (r1 == c·tail is NOT diverse)."""
    from ma_anonymization_etl_spark.operators.anonymize import (
        recursive_cl_diversity,
    )

    rows = (
        # dominated: r = (10, 1, 1) -> r1=10 >= 2*(1+1)=4 -> fails
        [("dom", "a")] * 10 + [("dom", "b"), ("dom", "c")]
        # balanced: r = (4, 3, 3) -> 4 < 2*(3+3)=12 -> passes
        + [("bal", "a")] * 4 + [("bal", "b")] * 3 + [("bal", "c")] * 3
        # boundary: r = (4, 1, 1) -> 4 < 2*(1+1)=4 is FALSE -> fails
        + [("edge", "a")] * 4 + [("edge", "b"), ("edge", "c")]
        # single value: tail empty -> r1 < 0 false -> fails
        + [("mono", "a")] * 5
    )
    df = spark.createDataFrame(rows, "cls string, sa string")
    out = {
        r.cls: (r.m_distinct, r.r1, r.tail_sum, r.diverse)
        for r in recursive_cl_diversity(df, ["cls"], "sa", c=2.0, l=2).collect()
    }
    assert out["dom"] == (3, 10, 2, False)
    assert out["bal"] == (3, 4, 6, True)
    assert out["edge"] == (3, 4, 2, False)
    assert out["mono"] == (1, 5, 0, False)
