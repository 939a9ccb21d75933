"""Library-API audit (VERDICT r5 item 5 / r6 item 6): the registered
demo queries are the driver CONTRACT; the reusable surface is the
parameterized public `(df, ...) -> DataFrame` functions they delegate
to.  This file locks the delegation so a future registration can't
quietly inline an algorithm that belongs in the library:

- every (query -> library function) pair in DELEGATES must exist, be
  public, take a DataFrame (not a SparkSession) first, and actually be
  referenced by the query's code;
- the j/q/n curation surface is reachable from the CLI route engine
  (examples/route_curation.json + route_quality_gate.json run end to
  end through cli.main).

Thin demos of Spark built-ins (b1_project = .select, f2_limit =
.limit, the s* SQL texts where the SQL string IS the parameterized
artifact, storage-feature demos n5/n6/n7/n10/n12 whose feature is the
writer option itself) are deliberately NOT wrapped — a one-line
pass-through wrapper is padding, not API.
"""

from __future__ import annotations

import inspect
import json

import pytest

from ma_anonymization_etl_spark import registry
from tests.conftest import SF_ORACLE

# query name -> public df-first library callable its body must reference
DELEGATES = {
    # quality (q)
    "q1_data_profile": "profile_table",
    "q2_constraint_check": "run_constraint_checks",
    "q3_outlier_zscore": "group_zscore_outliers",
    "q4_embedding_quality": "embedding_quality_report",
    "q5_drift_psi": "psi_drift",
    "q6_fd_profile": "fd_violation_profile",
    "q7_volume_anomaly": "volume_anomaly_flags",
    "q8_ewma_anomaly": "ewma_anomaly_flags",
    "q9_mad_outliers": "mad_outlier_report",
    "q10_seasonal_anomaly": "seasonal_anomaly_flags",
    "q11_token_js_divergence": "token_js_divergence",
    # LLM curation (j)
    "j13_lang_id_heuristic": "lang_id",
    "j14_text_quality_score": "text_quality_score",
    "j15_token_count": "token_counts",
    "j26_segment_dedup": "segment_dedup",
    "j27_repetition_filter": "repetition_signals",
    "j29_decontamination": "decontaminate",
    "j30_unigram_lm_score": "unigram_lm_score",
    "j31_sequence_packing": "sequence_packing",
    "j32_dup_ngram_coverage": "dup_ngram_coverage",
    "j34_grouped_split": "grouped_split_assign",
    "j39_train_test_split": "split_assign",
    "j40_mixture_sample": "mixture_sample",
    "j45_balance_resample": "balance_resample",
    "j46_group_sample_exact_k": "group_sample_exact_k",
    "j49_domain_quota": "domain_quota_audit",
    # ETL (n)
    "n1_merge_upsert": "merge_upsert",
    "n2_scd2_historize": "scd2_historize",
    "n3_incremental_agg_refresh": "merge_agg_partials",
    "n8_record_linkage": "record_linkage_report",
    # the one MinHash-LSH pair engine
    "j3_dedup_near_minhash": "minhash_lsh_pairs",
    # round-7 additions
    "f6_skyline_pareto": "skyline_2d",
    "j50_jaccard_prefix_join": "set_similarity_join",
    "j50b_jaccard_routed": "jaccard_join_routed",
    "j50c_jaccard_routed_lsh": "jaccard_join_routed",
    "j52b_containment_capped": "containment_join",
    "j54_bm25_topk": "bm25_topk",
    "j54b_bm25_multi": "bm25_multi_topk",
    "j54c_bm25f_topk": "bm25f_topk",
    "j44b_semdedup_fast": "semdedup_release",
    "j44_semantic_dedup": "semdedup_release",
    "j32b_substring_dedup": "substring_dedup_release",
    "j51_weighted_sample": "weighted_sample_topk",
    "j52_containment_join": "containment_join",
    "j53_incremental_dedup": "incremental_dedup",
    "d19_quantile_binning": "quantile_binning",
    "i43_dp_topk": "dp_topk",
    "n11_cdc_apply": "cdc_apply",
    # round-8 additions (p7b's engine lives in llm.py next to the
    # min-label loop — module-local lookup can't see it, like p7)
    "p8_kcore": "kcore",
    # round-10 additions
    "j55_ann_routed": "ann_topk_routed",
    "j55b_ann_routed_ivf": "ann_topk_routed",
    "j20_ivf_ann": "ivf_topk",
    "j56_maximal_dup_spans": "maximal_dup_spans",
    "j56b_maximal_dup_spans_chars": "maximal_dup_spans_chars",
    "j60_fuzzy_dedup_edit": "fuzzy_dup_pairs",
    "j60b_fuzzy_dedup_3key": "fuzzy_dup_pairs",
    "j62_cluster_canonical": "cluster_canonical",
    "j57_ann_multiprobe": "multiprobe_ann_topk",
    "j58_ann_cost_routed": "ann_topk_cost_routed",
    "j58b_ann_cost_routed_ivf": "ann_topk_cost_routed",
    "j59_ann_prebuilt_probe": "ivf_probe",
    "j59b_ann_prebuilt_reprobe": "ivf_probe",
    "j63_mp_prebuilt_probe": "multiprobe_probe",
    "j63b_mp_prebuilt_reprobe": "multiprobe_probe",
    # round-11 additions
    "j56c_maximal_dup_spans_skewguard": "maximal_dup_spans_chars",
    "j60c_fuzzy_dedup_capped": "fuzzy_dup_pairs",
    "j64_knn_label_ann": "knn_label_multiprobe",
    # round-12 additions
    "j9d_sim_pair_lsh_fast": "pair_verify_f32_screen",
    "j9e_pair_verify_boundary": "pair_verify_f32_screen",
    "j56d_dup_spans_multipass": "maximal_dup_spans_chars_multipass",
    "j64b_knn_label_ann_fast": "knn_label_multiprobe_fast",
}

_ALL = registry.load_all()


@pytest.mark.parametrize("qname,fname", sorted(DELEGATES.items()))
def test_query_delegates_to_public_df_function(qname, fname):
    q = _ALL[qname]
    mod = inspect.getmodule(q.fn)
    lib = getattr(mod, fname, None)
    assert lib is not None and inspect.isfunction(lib), (
        f"{qname}: public library function {fname} missing from {mod.__name__}"
    )
    assert not fname.startswith("_"), f"{fname} is not public"
    params = list(inspect.signature(lib).parameters)
    assert params and params[0] != "spark", (
        f"{fname} must be df-first (got first param {params[0]!r})"
    )
    # run_constraint_checks' single param IS the parameterization (a
    # list of check specs, each carrying its own df); token_counts /
    # lang_id are df-only by design (the text column is the contract).
    assert len(params) >= 2 or fname in (
        "token_counts",
        "lang_id",
        "run_constraint_checks",
        # the (vec_id, cl, v) assignment table IS the parameterization:
        # thresholds live in j44's module constants
        "semdedup_release",
    ), f"{fname} should be parameterized beyond the input DataFrame"
    assert fname in q.fn.__code__.co_names, (
        f"{qname} does not reference {fname} — it inlines its logic"
    )


def test_curation_route_runs_through_cli(spark, tmp_path):
    """examples/route_curation.json exercises the j family (dedup,
    repetition filter, domain quota, split assign) and the n family
    (dynamic partition overwrite on the sink) through cli.main."""
    from ma_anonymization_etl_spark import cli

    with open("examples/route_curation.json") as f:
        route = json.load(f)
    route["input"]["sf_dir"] = SF_ORACLE
    route["output"]["path"] = str(tmp_path / "curated")
    rp = tmp_path / "route.json"
    rp.write_text(json.dumps(route))
    rc = cli.main(["--route", str(rp)], spark=spark)
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "curated"))
    assert out.count() > 0
    assert set(out.columns) == {"doc_id", "lang", "source", "n_chars", "split"}
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
    # quota honored per source
    per_host = out.groupBy("source").count().collect()
    assert all(r["count"] <= 40 for r in per_host)


def test_quality_gate_route_runs_through_cli(spark, tmp_path):
    """examples/route_quality_gate.json exercises the q family
    (declarative constraint suite as a terminal release) through
    cli.main; the shipped corpus passes every check."""
    from ma_anonymization_etl_spark import cli

    with open("examples/route_quality_gate.json") as f:
        route = json.load(f)
    route["input"]["sf_dir"] = SF_ORACLE
    rp = tmp_path / "route.json"
    rp.write_text(json.dumps(route))
    rc = cli.main(["--route", str(rp)], spark=spark)
    assert rc == 0
    from ma_anonymization_etl_spark.cli import run_route

    rel = run_route(spark, route)
    rows = {r.check_name: r.n_violations for r in rel.collect()}
    assert rows == {
        "orderkey_unique": 0,
        "totalprice_positive": 0,
        "orderstatus_domain": 0,
    }


def test_decontaminate_route_runs_through_cli(spark, tmp_path):
    """examples/route_decontaminate.json exercises the round-8 route
    vocabulary: a `where`-filtered input, a named aux_inputs benchmark
    table, quality_filter WITHOUT a hard n_chars dependency, and the
    two-table decontaminate_filter step."""
    from ma_anonymization_etl_spark import cli

    with open("examples/route_decontaminate.json") as f:
        route = json.load(f)
    route["input"]["sf_dir"] = SF_ORACLE
    route["aux_inputs"]["benchmark"]["sf_dir"] = SF_ORACLE
    route["output"]["path"] = str(tmp_path / "decon")
    rp = tmp_path / "route.json"
    rp.write_text(json.dumps(route))
    rc = cli.main(["--route", str(rp)], spark=spark)
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "decon"))
    assert out.count() > 0
    assert out.filter("source = 'src0'").count() == 0  # input `where` held
    # the route's survivors = library-function replay (step composition
    # is faithful, not approximately similar)
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.llm import (
        overlap_against,
        text_quality_score,
    )
    from ma_anonymization_etl_spark.sources.io import load as _load

    docs = _load(spark, SF_ORACLE, "documents")
    train = docs.filter("source != 'src0'")
    bench = docs.filter("source = 'src0'")
    q_ok = text_quality_score(train.select("doc_id", "text", "n_chars")).filter(
        "n_words >= 5 and stop_frac >= 0.0"
    ).select("doc_id")
    kept = train.join(q_ok, "doc_id", "left_semi")
    clean = overlap_against(kept, bench, ngram=3, overlap_min=0.65).filter(
        ~F.col("contaminated")
    ).select("doc_id")
    want = {r.doc_id for r in kept.join(clean, "doc_id", "left_semi")
            .select("doc_id").collect()}
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == want


def test_fk_constraint_route_step_uses_aux_parent(spark):
    """The constraint_report step runs fk checks once the route
    declares an aux parent table (round-8 aux_inputs); the shipped
    corpus has zero orphans, and an injected orphan is counted."""
    from ma_anonymization_etl_spark.cli import run_route

    route = {
        "input": {"table": "orders", "sf_dir": SF_ORACLE},
        "aux_inputs": {"dim": {"table": "customer", "sf_dir": SF_ORACLE}},
        "steps": [
            {"op": "constraint_report", "aux": "dim", "checks": [
                {"name": "orders_custkey_fk", "type": "fk",
                 "child_key": "o_custkey", "parent_key": "c_custkey"},
                {"name": "orderkey_unique", "type": "unique",
                 "col": "o_orderkey"},
            ]},
        ],
    }
    rows = {r.check_name: r.n_violations for r in run_route(spark, route).collect()}
    assert rows == {"orders_custkey_fk": 0, "orderkey_unique": 0}

    # injected orphan: a child key no parent has
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline
    from ma_anonymization_etl_spark.sources.io import load as _load

    orders = _load(spark, SF_ORACLE, "orders").limit(10).withColumn(
        "o_custkey", F.lit(-1).cast("long")
    )
    out = anonymize_pipeline(
        orders,
        [{"op": "constraint_report", "aux": "dim", "checks": [
            {"name": "fk", "type": "fk",
             "child_key": "o_custkey", "parent_key": "c_custkey"}]}],
        tables={"dim": _load(spark, SF_ORACLE, "customer")},
    )
    assert out.collect()[0].n_violations == 10


def test_quality_filter_step_accepts_bare_id_text(spark):
    """Round-7 advice: the quality_filter route step must not hard-
    select n_chars — text_quality_score has an n_chars fallback for
    bare (id, text) inputs and the step has to let it engage."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    df = spark.createDataFrame(
        [(1, "the and is of to " * 10), (2, "x")], "doc_id LONG, text STRING"
    )
    out = anonymize_pipeline(
        df, [{"op": "quality_filter", "min_words": 10, "min_stop_frac": 0.0}]
    )
    assert [r.doc_id for r in out.collect()] == [1]


def test_overlap_against_two_table_semantics(spark):
    """overlap_against must score docs against the REFERENCE's gram
    set only: a doc equal to a reference doc is fully contaminated, a
    disjoint doc is 0.0, and a doc sharing exactly half its grams
    lands at 0.5 (boundary arithmetic is exact)."""
    from ma_anonymization_etl_spark.operators.llm import overlap_against

    ref = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id LONG, text STRING"
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # identical: 4/4 grams hit
            (2, "x y z w v u"),        # disjoint: 0/4
            (3, "a b c d x q r s"),    # grams: abc bcd cdx dxq xqr qrs -> 2/6
        ],
        "doc_id LONG, text STRING",
    )
    rows = {
        r.doc_id: r for r in overlap_against(docs, ref, ngram=3).collect()
    }
    assert rows[1].contaminated and rows[1].overlap_frac == 1.0
    assert not rows[2].contaminated and rows[2].overlap_frac == 0.0
    assert rows[3].n_grams == 6 and rows[3].n_hit == 2
    assert not rows[3].contaminated


def test_df_first_functions_work_without_corpus_columns(spark):
    """The df-first curation surface must run on a bare (id, text)
    DataFrame — no reliance on corpus-only columns like n_chars
    (round-7 review finding)."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.llm import (
        split_assign,
        split_audit,
        text_quality_score,
    )

    bare = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    q = text_quality_score(bare).collect()
    assert {r.doc_id for r in q} == {1, 2}
    assert all(r.n_chars == len(t) for r, t in zip(
        sorted(q, key=lambda r: r.doc_id),
        ["the quick brown fox jumps over the lazy dog",
         "pack my box with five dozen liquor jugs"]))

    assigned = split_assign(bare, "doc_id", salt="t|").withColumn(
        "grp", F.lit("all")
    )
    audit = split_audit(assigned, "grp").collect()
    assert sum(r.n_docs for r in audit) == 2


def test_session_reuse_is_the_only_session_store():
    """One session store: only ``sources/io.py`` reads the application
    id (the key of ``session_reuse`` and of the scratch paths), so no
    module keeps a per-module cache keyed by hand; and every
    ``session_reuse`` tag is a string literal at exactly one call site,
    because the key ignores how a frame was derived — a second builder
    under one tag would silently receive the first builder's frame."""
    import ast
    from collections import Counter
    from pathlib import Path

    root = Path(registry.__file__).parent
    readers, tags = [], Counter()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        if "sparkContext.applicationId" in src:
            readers.append(rel)
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            if name != "session_reuse":
                continue
            tag = node.args[2] if len(node.args) > 2 else next(
                (kw.value for kw in node.keywords if kw.arg == "tag"), None
            )
            assert isinstance(tag, ast.Constant) and isinstance(tag.value, str), (
                f"{rel}:{node.lineno}: session_reuse tag must be a string literal"
            )
            tags[tag.value] += 1
    assert readers == ["sources/io.py"], f"applicationId read outside sources/io.py: {readers}"
    assert tags, "no session_reuse call sites found"
    shared = {t: n for t, n in tags.items() if n != 1}
    assert not shared, f"session_reuse tags with more than one call site: {shared}"
