"""Central query registry — the contract surface for the driver.

Every operator from SURVEY.md §2 registers one demo query here:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when expressible)
the equivalent DuckDB oracle SQL.  ``__spark_entry__.py`` exposes the
registry as ``queries()`` / ``oracle_sql()``.

Discipline enforced here by convention (SURVEY.md §5):
- alias every computed column identically in Spark and SQL;
- exact-decimal sums for large-magnitude double SUMs
  (see functions.numeric.dsum) — order-independent, engine-identical;
- ROUND(, 4..6) on inherently float accumulations (avg/stddev/corr);
- deterministic tie-breaks on every limit / row_number / dedup.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

# Modules whose import populates the registry.
_OPERATOR_MODULES = [
    "ma_anonymization_etl_spark.operators.relational",
    "ma_anonymization_etl_spark.operators.sources_queries",
    "ma_anonymization_etl_spark.operators.sinks",
    "ma_anonymization_etl_spark.operators.windows",
    "ma_anonymization_etl_spark.operators.scalars",
    "ma_anonymization_etl_spark.operators.anonymize_queries",
    "ma_anonymization_etl_spark.operators.dp",
    "ma_anonymization_etl_spark.operators.events",
    "ma_anonymization_etl_spark.operators.streaming_queries",
    "ma_anonymization_etl_spark.operators.llm",
    "ma_anonymization_etl_spark.operators.similarity",
    "ma_anonymization_etl_spark.operators.multimodal",
    "ma_anonymization_etl_spark.operators.udfs",
    "ma_anonymization_etl_spark.operators.sql_queries",
    "ma_anonymization_etl_spark.operators.etl",
    "ma_anonymization_etl_spark.operators.graph",
    "ma_anonymization_etl_spark.operators.quality",
]

# Modules that a fresh interpreter registers INSIDE another module's
# registration: the named query's oracle builder imports the module
# (anonymize_queries' i41 imports dp, streaming_queries' k10 imports
# llm), so its queries precede that query.  load_all replays this, so
# its order is the same whichever operator module a process imports
# first.
_REGISTERED_INSIDE = {
    "ma_anonymization_etl_spark.operators.dp": "i41_pram_categorical",
    "ma_anonymization_etl_spark.operators.llm": "k10_stream_minhash_dedup",
}

# The driver's correctness gate samples the FIRST 50 queries in
# registration order.  Rounds 1-3 registered the relational basics
# first, so the gate only ever attested those; the engine's flagship
# surface (anonymization, dedup/similarity, events/streaming, windows,
# scalar families, python surfaces, multimodal, ETL, SQL) was green
# only under out-of-band re-runs.  This curated window puts >=1 query
# from every SURVEY §2 family inside the gate while keeping the
# relational anchors.  tests/test_survey_coverage.py locks the
# composition against registration-order drift.
DRIVER_WINDOW = [
    # relational anchors (9; round-6 rotation swapped six long-green
    # basics — b4, c10, d4, d5, f1, g3b — for round-5 marquee surface
    # so the gate attests the newest operators, per VERDICT r5 item 3)
    "d1_agg_hash_pricing_summary",
    "b2_filter_pred",
    "c2_join_shuffle",
    "c6_join_range_theta",
    "c7_join_asof",
    "f6_skyline_pareto",
    "g4_except",
    # extension flagships.  Round-11 rotation #7: eleven long-green
    # entries out — j55/j55b/j57 (ANN routing: the amortized j59+j63
    # pair keeps the family attested), j56 (word-gram sibling; j56b +
    # the new j56c keep ExactSubstr in), j54/j54b (BM25: j54c's
    # single-field reduction is property-pinned to BM25), j50c (j50b
    # keeps both router branches), p8/p1b (graph long-green since r7;
    # p7b keeps CC in), q10 (q11 keeps the q family in), j59b (j63b
    # carries the reprobe contract) — for the round-11 surface
    # (j56c/j60c skew+cap guards, j64 ANN labelling) plus the
    # post-r10-capture ops VERDICT r10 item 6 queued for a turn
    # (j60b, j62, j63/j63b, i44, i45, q11, k26).
    # Round-12 rotation #8: j9e (the float32-screen boundary
    # adjudication contract — new this round) and j56d (the
    # peak-footprint-bounded multipass ExactSubstr form) in; j59 out
    # (long-green since r10b; j63/j63b keep the prebuilt-index family
    # attested) and j50b out (long-green since r7 rotation; j52b keeps
    # the capped set-similarity contract inside, and the router
    # branches stay attested by the full-registry sim).
    # The round-12 re-shaped engines all already sit inside the
    # window under their existing names: j56b/j56c (hashed composite
    # gram keys), j9d (float32-screen verify), j44b (Arrow partial-sum
    # recompute).
    # Round-12 continuation: j64b (the Arrow-reranked knn_label twin,
    # new this session) in; j64 out — attested green in r11, its vote
    # semantics now ride the gate THROUGH the twin (same oracle,
    # equality property-pinned) and the full-registry sim keeps the
    # exact form checked.
    # Round-13 rotation #9 (VERDICT r12 item 6: re-attest the surface
    # the driver bench saw regress while rotated out): j50b, j59 and
    # j64 BACK IN; out go j63 (j59 restores the prebuilt-probe
    # contract to the gate, j63b keeps the reprobe side), j62
    # (long-green since r11; the CC release surface stays attested via
    # p7b and j53), and j60b (the fuzzy family keeps BOTH j60 and j60c
    # inside; j60b green since r11 and its 3-key recall delta is
    # property-pinned).  The round-13 re-shaped engines (j50/j52
    # hashed verify, CC co-partitioning, mondrian literals, fuzzy
    # verify spread) all sit inside under their existing names.
    "p7b_cc_altstar",
    "j9d_sim_pair_lsh_fast",
    "j9e_pair_verify_boundary",
    "j50b_jaccard_routed",
    "j56c_maximal_dup_spans_skewguard",
    "j56d_dup_spans_multipass",
    "j59_ann_prebuilt_probe",
    "j60c_fuzzy_dedup_capped",
    "j63b_mp_prebuilt_reprobe",
    "j64_knn_label_ann",
    "j64b_knn_label_ann_fast",
    "i44_delta_presence",
    "i45_recursive_cl_diversity",
    "q11_token_js_divergence",
    "k26_stream_fuzzy_dedup",
    "j56b_maximal_dup_spans_chars",
    "j60_fuzzy_dedup_edit",
    "j54c_bm25f_topk",
    # sources / sinks (3)
    "a1_parquet_scan",
    "a5_stream_source_tumbling",
    # window functions (3)
    "e6_win_moving",
    # scalar families (3)
    "h8_variant_semi_structured",
    # anonymization flagship (11)
    "i1_classify_columns",
    "i43_dp_topk",
    "i4_tokenize_consistent",
    "i16_k_anonymity_metric",
    "i17_k_enforce_suppress",
    "i18_k_enforce_generalize",
    "i19_l_diversity",
    "i20_t_closeness",
    "i22_mondrian_kanon",
    "i23_anonymize_pipeline",
    # dedup / text / similarity (round-7 rotation #2 swapped eight
    # long-green basics — c1, d11, e1, e5, h2, i2, j2, j8, j24, k1 — for
    # the round-7 operators f6/d19/i43/j50-j53/p7/q8/q9: the newest
    # surface belongs inside the gate; j43b stays per VERDICT r6 item 8)
    "j52b_containment_capped",
    "j32b_substring_dedup",
    "j44b_semdedup_fast",
    "j43b_kmeans_converged",
    "j53_incremental_dedup",
    # events / streaming (q10 rotated out round 11 — q11 keeps the q
    # family inside the gate, listed with the round-11 block above)
    "k3_win_session_batch",
    "k9_stream_anonymize",
    # python surfaces, multimodal, ETL, SQL (4)
    "l4_grouped_map",
    "m2_decode_features",
    "n3_incremental_agg_refresh",
    "s1_tpch_q1_sql",
]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # None → driver does rows-only check
    doc: str = ""


def register(name: str, oracle: Optional[str] = None):
    """Decorator: register a demo query under a SURVEY §2 id-prefixed name."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """All registered queries, DRIVER_WINDOW names first.

    Emission order is the order the driver samples its 50-query
    correctness window in, so the curated window list leads and the
    remaining queries follow the order a fresh interpreter registers
    them in: ``_OPERATOR_MODULES`` order, decorator order within a
    module, and each ``_REGISTERED_INSIDE`` module just before the query
    whose oracle builder imports it; queries of any other module come
    last.  The order does not depend on which operator modules the
    process imported first.
    """
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not registered: {missing}")
    by_module: dict[str, list[Query]] = {}
    for q in _REGISTRY.values():
        by_module.setdefault(q.fn.__module__, []).append(q)
    host_of = {name: mod for mod, name in _REGISTERED_INSIDE.items()}

    def walk(mod):
        for q in by_module.pop(mod, []):
            if q.name in host_of:
                yield from walk(host_of[q.name])
            yield q

    ordered = {n: _REGISTRY[n] for n in DRIVER_WINDOW}
    for mod in [*_OPERATOR_MODULES, *by_module]:
        for q in walk(mod):
            ordered.setdefault(q.name, q)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in load_all().items() if q.oracle}
